"""Group J — training-data pipeline mechanics (SURVEY.md §2.J; north star
BASELINE.json:6): reproducible sampling, sharding, context-window chunking,
and token-budget packing over the documents corpus, plus event-funnel /
cohort-retention analytics over the events stream.

Scale story per operator:
- hash sampling / sharding: one md5 per row, no shuffle for the sample
  decision itself (a narrow filter/projection) — at 100 TB this is the only
  admissible sampling mechanism (rand() is neither reproducible across
  retries nor partition-stable).
- chunking: per-row explode by a computed chunk count — output rows scale
  with corpus tokens / chunk_size; no shuffle until the consumer aggregates.
- packing: one shuffle on the group key (lang) + an ordered window cumsum;
  integer arithmetic end-to-end so cross-engine parity is exact.
- funnel / retention: conditional aggregation over one shuffle on user_id —
  the classic event-analytics shapes, no self-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_etl_spark.operators.materialized import artifact
from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import fanout, table

# Deterministic 3/16 ≈ 18.75% sample: first hex digit of md5(text) in 0..2.
# Identical on any engine with md5 — reproducible across runs, retries, and
# partitionings, unlike rand(seed) whose row→value assignment is
# partition-dependent.
_SAMPLE_HEX = ("0", "1", "2")


@query(
    "q_sample_hash",
    oracle="""
    SELECT lang,
           count(*) AS n_sampled,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents
    WHERE substring(md5(text), 1, 1) IN ('0', '1', '2')
    GROUP BY lang
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling by content hash (~18.75% of docs)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.where(F.substring(F.md5("text"), 1, 1).isin(*_SAMPLE_HEX))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


# Per-language sampling rates in sixteenths (hex-digit buckets of a content
# hash): the source-mixing knob of a training-data pipeline — upsample rare
# languages, downsample dominant ones, reproducibly.
_STRATA_RATES = {"en": 8, "de": 4, "es": 4, "fr": 2, "zh": 2}  # /16


def _strata_case_sql() -> str:
    return (
        "CASE lang "
        + " ".join(f"WHEN '{l}' THEN {n}" for l, n in _STRATA_RATES.items())
        + " ELSE 1 END"
    )


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT lang,
           count(*) AS n_total,
           count(CASE WHEN (CASE WHEN substring(md5(text), 2, 1) BETWEEN 'a' AND 'f'
                                 THEN ascii(substring(md5(text), 2, 1)) - 87
                                 ELSE ascii(substring(md5(text), 2, 1)) - 48 END)
                           < ({_strata_case_sql()})
                 THEN 1 END) AS n_sampled
    FROM documents
    GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified reproducible sampling: per-language target rates in
    sixteenths, membership decided by a content-hash digit.

    Same zero-shuffle membership property as q_sample_hash (a pure
    function of content — partition-independent, retry-stable, no
    rand()), but with a per-stratum rate: hex digit value of md5(text)[2]
    < rate(lang). At 100 TB this is the language-rebalancing pass of a
    corpus mix, and it costs one aggregate over a map-side projection.
    """
    d = table(spark, sf_dir, "documents")
    hexd = F.substring(F.md5("text"), 2, 1)
    # hex digit -> 0..15 without conv(): digits via ascii-'0', a-f via ascii-87
    digit_val = F.when(
        hexd.between("a", "f"), F.ascii(hexd) - 87
    ).otherwise(F.ascii(hexd) - F.ascii(F.lit("0")))
    # same precedence as the oracle's CASE (first match wins)
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(n))
            for lang, n in _STRATA_RATES.items()
        ],
        F.lit(1),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(digit_val < rate, 1)).alias("n_sampled"),
    )


# Integer ticket counts for exact-size weighted sampling (upsample rare
# languages). Small integers by design: the ticket trick below explodes
# sum(w) rows — for large/continuous weights use the float E-S key
# u^(1/w) instead (see docstring).
_ES_TICKETS = {"en": 1, "de": 2, "es": 2, "fr": 3, "zh": 3}


def _es_tickets_case_sql() -> str:
    return (
        "CASE lang "
        + " ".join(f"WHEN '{l}' THEN {n}" for l, n in _ES_TICKETS.items())
        + " ELSE 1 END"
    )


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, max(md5(doc_id || ':' || t)) AS skey
      FROM (SELECT doc_id, lang,
                   unnest(generate_series(1, {_es_tickets_case_sql()})) AS t
            FROM documents)
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, skey FROM keyed ORDER BY skey DESC, doc_id LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size weighted sample (k=100): Efraimidis-Spirakis A-ES in
    integer-exact ticket form — the training-mix primitive stratified
    Bernoulli can't provide (a FIXED output size with inclusion
    probability monotone in weight, upsampling rare languages).

    Each doc gets w integer tickets; each ticket hashes to a uniform
    (md5); the doc's sampling key is its MAX ticket hash —
    P(max of w uniforms <= x) = x^w, exactly the E-S key distribution
    u^(1/w) for integer w, with NO floating point anywhere: fixed-width
    lowercase hex compares lexicographically as the 128-bit integer, so
    both engines order identically by construction (ln/exp are measured
    1-ulp divergent across engines — tests/test_null_parity.py — which
    rules the float form out of hash-checked outputs). Top-k is
    sort+limit over a total order with doc_id tiebreak: per-partition
    heaps of k (TakeOrderedAndProject), never a global sort, never a
    keyless window. Cost: sum(w) exploded rows in one map-side pass +
    one |docs| groupBy; at 100 TB with continuous weights, swap the
    ticket max for pow(u, 1/w) and keep the identical topology — the
    engine-internal ordering is then still safe (adjacent key gaps >>
    1 ulp), only cross-engine hash-checking needs the integer form.
    """
    d = table(spark, sf_dir, "documents")
    w = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(n)) for lang, n in _ES_TICKETS.items()],
        F.lit(1),
    )
    keyed = (
        d.select("doc_id", "lang", F.explode(F.sequence(F.lit(1), w)).alias("t"))
        .select(
            "doc_id",
            "lang",
            F.md5(F.concat_ws(":", "doc_id", "t")).alias("th"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.max("th").alias("skey"))
    )
    return keyed.orderBy(F.desc("skey"), F.asc("doc_id")).limit(100)


@query(
    "q_shard_assign",
    oracle="""
    SELECT CAST(ascii(substring(md5(text), 1, 1)) % 8 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY shard_id
    """,
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash shard assignment (8 shards) + per-shard balance stats.

    The write-sharding primitive: shard id is a pure function of content,
    so re-runs land rows in the same shard regardless of input partitioning.
    """
    d = table(spark, sf_dir, "documents")
    shard = (F.ascii(F.substring(F.md5("text"), 1, 1)) % 8).cast("long")
    return (
        d.select(shard.alias("shard_id"), "lang", "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_CHUNK = 16  # tokens per chunk (context-window stand-in)


@query(
    "q_text_chunk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(t, chunk_id * {_CHUNK} + 1,
                               chunk_id * {_CHUNK} + {_CHUNK})) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(t, chunk_id * {_CHUNK} + 1,
                                          chunk_id * {_CHUNK} + {_CHUNK}), ' ')) AS chunk_md5
    FROM toks,
         unnest(generate_series(0, CAST(floor((len(t) - 1) / {_CHUNK}) AS INT))) AS g(chunk_id)
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size context-window chunking: split each document into
    16-token chunks; emit per-chunk token count + content hash.

    The sequence-explode produces chunk ids per row (no join); the slice
    is a builtin array op — the whole pipeline stays in codegen and the
    output is one row per chunk, exactly what a tokenize-and-pack stage
    consumes at scale.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_chunks_last = F.floor((F.size(t) - 1) / _CHUNK).cast("int")
    chunked = d.select(
        "doc_id",
        t.alias("t"),
        F.explode(F.sequence(F.lit(0), n_chunks_last)).alias("chunk_id"),
    )
    piece = F.slice("t", F.col("chunk_id") * _CHUNK + 1, _CHUNK)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        # array_join, not concat_ws: NULL-array semantics match the
        # oracle's array_to_string (parity discipline, scalar2.py docstring)
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


_BUDGET = 512  # tokens per packed bin


@query(
    "q_pack_bins",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS start_off
      FROM sized
    )
    SELECT lang,
           CAST(floor(start_off / {_BUDGET}) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM offs
    GROUP BY lang, bin_id
    """,
)
def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: assign docs (ordered by doc_id within lang) to
    ~512-token bins by running-offset division; per-bin fill stats.

    Sequence-packing for training shards as one window cumsum — integer
    token counts make the binning exact on every engine. One shuffle on
    lang; bin assignment is embarrassingly parallel after the cumsum.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    sized = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    offs = sized.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        offs.groupBy("lang", F.floor(F.col("start_off") / _BUDGET).cast("long").alias("bin_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
        )
    )


_WINDOW = 64  # context-window token budget for the truncation report


@query(
    "q_pack_truncation",
    oracle=f"""
    WITH sized AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN nt > {_WINDOW} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
           CAST(sum(greatest(nt - {_WINDOW}, 0)) AS BIGINT) AS tokens_lost,
           round(CAST(sum(greatest(nt - {_WINDOW}, 0)) AS DOUBLE)
                 / CAST(sum(nt) AS DOUBLE), 6) AS frac_lost,
           CAST(sum((nt + {_WINDOW} - 1) // {_WINDOW}) AS BIGINT)
               AS n_segments,
           CAST(sum((nt + {_WINDOW} - 1) // {_WINDOW}) * {_WINDOW} - sum(nt)
                AS BIGINT) AS pad_waste,
           round(CAST(sum((nt + {_WINDOW} - 1) // {_WINDOW}) * {_WINDOW}
                      - sum(nt) AS DOUBLE)
                 / CAST(sum((nt + {_WINDOW} - 1) // {_WINDOW}) * {_WINDOW}
                        AS DOUBLE), 6) AS frac_pad
    FROM sized
    GROUP BY source
    """,
)
def q_pack_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget report at W=64 tokens — the two-sided
    accounting a sequence-length decision is actually made on, per
    source: if documents are TRUNCATED to one window, how many tokens
    are lost (`tokens_lost`, `frac_lost`); if they are instead SPLIT
    into ceil(nt/W) segments, how much padding is wasted (`pad_waste`,
    `frac_pad` of the padded token grid). A source with high frac_lost
    wants splitting; one with high frac_pad wants packing
    (q_pack_bins); the pair of fractions is the decision input.

    Everything is exact integer arithmetic — the segment count is the
    int ceil division (nt + W - 1) div W, never a float ceil — folded
    map-side into ONE partial+final HashAggregate on |source| groups:
    single corpus scan, shuffle carries only aggregate states, nothing
    per-segment is ever materialized (contrast q_text_chunk, which
    explodes real chunks). The two fractions are single IEEE divisions
    of exact int64 sums, rounded at 6 dp; denominators are >= n_docs
    >= 1 per group by construction (size(split(...)) is >= 1 even for
    empty text on both engines), so no zero guard is needed.
    """
    d = table(spark, sf_dir, "documents")
    nt = F.size(F.split("text", " ")).cast("long")
    segs = F.expr(f"(nt + {_WINDOW} - 1) div {_WINDOW}")
    sized = d.select("source", nt.alias("nt"))
    lost = F.sum(F.greatest(F.col("nt") - _WINDOW, F.lit(0)))
    grid = F.sum(segs) * _WINDOW
    return sized.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("nt") > _WINDOW, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        lost.cast("long").alias("tokens_lost"),
        F.round(
            lost.cast("double") / F.sum("nt").cast("double"), 6
        ).alias("frac_lost"),
        F.sum(segs).cast("long").alias("n_segments"),
        (grid - F.sum("nt")).cast("long").alias("pad_waste"),
        F.round(
            (grid - F.sum("nt")).cast("double") / grid.cast("double"), 6
        ).alias("frac_pad"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after
    FROM stages
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→click→purchase funnel: users advancing through ordered stages.

    One conditional-min aggregation per user then one global rollup — the
    no-self-join funnel shape (NULL comparisons drop non-advancing users
    on both engines identically).
    """
    e = table(spark, sf_dir, "events")
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = e.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    sig = F.col("t_signup").isNotNull()
    clk = sig & (F.col("t_click") > F.col("t_signup"))
    pur = clk & (F.col("t_purchase") > F.col("t_click"))
    as_cnt = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    return stages.agg(
        F.count("*").alias("n_users"),
        as_cnt(sig).alias("n_signup"),
        as_cnt(clk).alias("n_click_after"),
        as_cnt(pur).alias("n_purchase_after"),
    )


@query(
    "q_funnel_latency",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, s.t_signup, min(e.ts) AS t_conv
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY e.user_id, s.t_signup
    ),
    lat AS (
      SELECT epoch_us(t_conv) - epoch_us(t_signup) AS us,
             (epoch_us(t_conv) - epoch_us(t_signup)) / 1000000.0 AS sec FROM c
    )
    SELECT count(*) AS n_converted,
           round(sum(us) / count(*) / 1000000.0, 6) AS avg_sec,
           round(quantile_cont(sec, 0.5), 6) AS p50_sec,
           round(quantile_cont(sec, 0.9), 6) AS p90_sec,
           round(quantile_cont(sec, 0.99), 6) AS p99_sec
    FROM lat
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: seconds from a user's FIRST
    signup to their first purchase AFTER it, summarized as exact
    p50/p90/p99 — the time-to-convert companion to q_funnel (which
    counts who advances; this measures how long advancing takes, the
    number an activation team actually tracks, tail-first).

    Shape: one conditional-min aggregate builds the |users|-row signup
    frame, one equi-join + min re-aggregate finds each user's first
    qualifying purchase (the ts > t_signup predicate rides the join, so
    pre-signup purchases never re-aggregate), then a single global
    percentile over |converted| latencies — array-form percentile(), so
    all three quantiles share one buffer/sort (the q_agg_percentile
    measurement). Latency is integer-µs difference divided in float64 —
    the same expression tree on both engines, so the interpolated
    quantiles start from identical doubles and 6 dp rounding hashes.
    """
    e = table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_conv"))
    )
    um = lambda col: F.unix_micros(F.col(col).cast("timestamp"))  # noqa: E731
    # mean from the EXACT integer-µs sum (BIGINT accumulation on both
    # engines), divided once in float64 — a double-summed avg(sec) would
    # be an order-dependent fold across partitions (parity discipline);
    # per-element sec = µs/1e6 feeds only the sort-based percentiles.
    lat = c.select(
        (um("t_conv") - um("t_signup")).alias("us"),
        ((um("t_conv") - um("t_signup")) / 1000000.0).alias("sec"),
    )
    pct = F.expr("percentile(sec, array(0.5, 0.9, 0.99))")
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.sum("us") / F.count("*") / 1000000.0, 6).alias("avg_sec"),
        F.round(pct.getItem(0), 6).alias("p50_sec"),
        F.round(pct.getItem(1), 6).alias("p90_sec"),
        F.round(pct.getItem(2), 6).alias("p99_sec"),
    )


@query(
    "q_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day,
                      CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           count(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: active-user counts by first-seen day and day
    offset (first week).

    Two aggregations + a broadcast-able cohort join; the cohort table is
    |users|, tiny relative to |events| at any scale.
    """
    e = table(spark, sf_dir, "events")
    # NTZ timestamps on both sides: DuckDB date_trunc('day') yields DATE,
    # which pandas/arrow canonicalize differently — the oracle casts back.
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = (
        e.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov counts) over per-user streams.

    lead() shares the sessionization shuffle on user_id; the transition
    aggregate is |event_types|² rows regardless of stream size.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("event_type", F.lead("event_type").over(w).alias("next_type"))
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_text_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, tok, count(*) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY source, tok
    ),
    tot AS (
      SELECT source, sum(n) AS total FROM tok GROUP BY source
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS vocab,
           round(-sum((t.n / o.total) * ln(t.n / o.total)), 6) AS entropy_nats
    FROM tok t JOIN tot o ON t.source = o.source
    GROUP BY t.source
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token Shannon entropy (nats) + vocabulary size — the
    diversity/quality signal for corpus curation.

    Two hash aggregates over (source, token) then source; the entropy sum
    folds |vocab| doubles per source (double sums matched DuckDB
    bit-exactly in probes, SURVEY.md §2.1 #12; rounded to 6 dp anyway).
    """
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    tot = tok.groupBy("source").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        tok.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )


# Per-source-tier sampling rates for the mixture: tier A (src0..src9) keeps
# hex digits 0..7 (50%), tier B keeps 0..3 (25%). Same hash-based
# determinism rationale as q_sample_hash.
_TIER_A = tuple(f"src{i}" for i in range(10))
# The ONE tier-A definition, shared by the engine `.isin(*_TIER_A)` calls
# and every oracle's `source IN (...)` list (generated below, ADVICE r14):
# a hardcoded copy of the list in an oracle string silently desynchronizes
# from a future _TIER_A edit until parity flags it.
_TIER_A_SQL = ", ".join(f"'{s}'" for s in _TIER_A)


@query(
    "q_mix_weighted",
    oracle=f"""
    WITH kept AS (
      SELECT source, lang
      FROM documents
      WHERE CASE WHEN source IN ({_TIER_A_SQL})
                 THEN substring(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7')
                 ELSE substring(md5(text), 1, 1) IN ('0','1','2','3')
            END
    )
    SELECT source,
           count(*) AS n_kept,
           round(count(*) / sum(count(*)) OVER (), 6) AS mix_frac
    FROM kept
    GROUP BY source
    """,
)
def q_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: per-source-tier hash sampling (50% for
    src0-9, 25% for src10-19) + resulting mixture composition.

    The curriculum/mixture-weights primitive for training-data assembly:
    membership is a pure content-hash function per tier (reproducible,
    partition-independent, no shuffle to decide), and the composition
    report is one aggregate plus a broadcast one-row total joined back
    onto the 20-row result — no keyless window, no single-task
    WindowExec (counts are longs, so the division is exact on both
    engines regardless of summation order).
    """
    d = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5("text"), 1, 1)
    keep = F.when(
        F.col("source").isin(*_TIER_A), digit.isin(*"01234567")
    ).otherwise(digit.isin(*"0123"))
    kept = d.where(keep).groupBy("source").agg(F.count("*").alias("n_kept"))
    total = kept.agg(F.sum("n_kept").alias("n_total"))
    return kept.crossJoin(F.broadcast(total)).select(
        "source",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_total"), 6).alias("mix_frac"),
    )


_TOPK_SAMPLE = 10  # exactly-k sample size per source stratum


@query(
    "q_sample_topk",
    oracle=f"""
    SELECT source, doc_id, h,
           CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                AS BIGINT) AS rk
    FROM (SELECT source, doc_id, md5(text) AS h FROM documents)
    QUALIFY rk <= {_TOPK_SAMPLE}
    """,
)
def q_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k deterministic uniform sample per source: the k docs
    with the smallest content hash in each stratum. Rate-based hash
    sampling (q_sample_hash) cannot promise a fixed sample SIZE — audit
    workflows ('pull exactly 10 docs from every source for human
    review, the same 10 every run') need k-smallest-hash order
    statistics, reproducible across runs, retries and partitionings
    because md5(text) is a pure content function.

    The oracle states the semantics as one row_number per source — but
    a window partitioned on |sources| (20 here, rarely more than
    thousands in production) over a CORPUS-sized frame is the
    low-cardinality-partition trap (q_mix_curriculum docstring). The
    engine runs the house TWO-LEVEL shape instead: (1) row_number
    within (source, salt-bucket) — |sources| x 32 partitions, parallel
    at any scale — keeps k candidates per bucket, collapsing the corpus
    to a |sources| x 32 x k candidate frame; (2) the final per-source
    row_number runs on THAT metadata-sized frame. Top-k of a union is
    top-k of per-bucket top-ks, so phase 2 loses nothing; the hash gate
    proves the two-phase plan equals the naive global window row for
    row. Salt = md5 hex digits 29-32 mod 32 — digits the full-hash
    ORDER key also covers, so bucket membership and within-bucket order
    are NOT independent (ADVICE r14); correctness never needed
    independence, because every bucket's local top-k contains its
    members of the global top-k under ANY row-to-bucket assignment.
    """
    d = table(spark, sf_dir, "documents")
    h = F.md5("text")
    base = d.select("source", "doc_id", h.alias("h"))
    salt = F.conv(F.substring("h", 29, 4), 16, 10).cast("long") % 32
    w_local = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    cands = (
        base.withColumn("salt", salt)
        .withColumn("lrk", F.row_number().over(w_local))
        .where(F.col("lrk") <= _TOPK_SAMPLE)
    )
    w_final = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        cands.select(
            "source",
            "doc_id",
            "h",
            F.row_number().over(w_final).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= _TOPK_SAMPLE)
    )


_CLUSTER_SAMPLE = 10  # exactly-k sample size per embedding cell


def _cluster_balanced_oracle() -> str:
    from data_pipeline_etl_spark.operators.llm_similarity import _D2_SQL, _IVF_K

    return f"""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding AS c FROM embeddings
      WHERE vec_id < {_IVF_K}
    ),
    dists AS (
      SELECT v.vec_id, s.cell, {_D2_SQL} AS d2
      FROM (SELECT vec_id, embedding AS e FROM embeddings) v
      CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    hashed AS (
      SELECT cell, vec_id, md5(CAST(vec_id AS VARCHAR)) AS h FROM assign
    )
    SELECT cell, vec_id, h,
           CAST(row_number() OVER (PARTITION BY cell ORDER BY h, vec_id)
                AS BIGINT) AS rk
    FROM hashed
    QUALIFY rk <= {_CLUSTER_SAMPLE}
    """


@query("q_sample_cluster_balanced", oracle=_cluster_balanced_oracle())
def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subset selection: EXACTLY-k deterministic sample
    per embedding CLUSTER — the curation step between dedup and mixing
    that source-stratified sampling (q_sample_topk) cannot provide,
    because 'source' is a provenance label while the cells of the IVF
    assignment are content-topology strata: k docs per TOPIC region of
    the embedding space, so a review set or a seed corpus covers the
    space instead of over-drawing the dominant mode. Composition of two
    proven bodies: the deterministic seed-centroid assignment
    (q_sim_ivf_assign's ivf_assign_for — on a real corpus, k-means
    centroids; the topology is identical) keys the strata, and the
    k-smallest-md5 order statistics of q_sample_topk pick the same k
    vectors per cell every run (md5 of the vec_id is a pure id
    function, so the selection is reproducible across runs, retries and
    partitionings). Cells with fewer than k members return all of them.

    Scale shape: one broadcast of the k seed vectors onto a linear
    corpus scan (k exact squared-L2 folds per vector), the argmin
    window keyed on |vectors|-cardinality vec_id (parallel at any
    scale), a map-side md5, then the house TWO-LEVEL top-k (the
    q_sample_topk discipline — a per-cell window over a corpus-sized
    frame with |cells| = 8 partitions is the low-cardinality-partition
    trap): (1) row_number within (cell, salt-bucket) keeps k candidates
    per bucket, collapsing the corpus to a |cells| x 32 x k frame;
    (2) the final per-cell row_number runs on that metadata-sized
    frame. At 100 TB the cell id is a partition column
    (q_sim_ivf_assign's note), so the scan itself prunes per cell.
    """
    from data_pipeline_etl_spark.operators.llm_similarity import ivf_assign_for

    assign = ivf_assign_for(fanout(table(spark, sf_dir, "embeddings")))
    hashed = assign.select(
        "cell", "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h")
    )
    salt = F.conv(F.substring("h", 29, 4), 16, 10).cast("long") % 32
    w_local = Window.partitionBy("cell", "salt").orderBy("h", "vec_id")
    cands = (
        hashed.withColumn("salt", salt)
        .withColumn("lrk", F.row_number().over(w_local))
        .where(F.col("lrk") <= _CLUSTER_SAMPLE)
    )
    w_final = Window.partitionBy("cell").orderBy("h", "vec_id")
    return (
        cands.select(
            "cell",
            "vec_id",
            "h",
            F.row_number().over(w_final).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= _CLUSTER_SAMPLE)
    )


_EPOCH_BUDGET = 1_000_000  # training-token budget for the epoch report


@query(
    "q_mix_epochs",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             CAST(CASE WHEN source IN ({_TIER_A_SQL})
                       THEN 2 ELSE 1 END AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM t)
    SELECT source, n_docs, tokens,
           round(CAST(w AS DOUBLE) / sw, 6) AS target_frac,
           round(CAST({_EPOCH_BUDGET} * w AS DOUBLE)
                 / CAST(sw * tokens AS DOUBLE), 6) AS epochs,
           (CAST({_EPOCH_BUDGET} * w AS DOUBLE)
            / CAST(sw * tokens AS DOUBLE)) > 1.0 AS repeated
    FROM t CROSS JOIN tot
    """,
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-source under a token budget — the REPETITION report a
    data-constrained mixing design is built on (how many times will
    each source be seen if the target mixture is honored for
    {budget} training tokens?): target_frac from the tier weights
    (tier A sources weighted 2:1, the q_mix_weighted convention),
    epochs = budget * target_frac / available tokens, and a `repeated`
    flag marking sources the budget forces past one epoch — the
    sources whose marginal value diminishes first and the first knob a
    mixture rebalance turns.

    Scale shape: one corpus scan into a |source|-group aggregate (token
    counts are map-side int sums), a 1-row broadcast total, and pure
    arithmetic — no window, no second scan. Exactness: weights, token
    sums and the budget are exact int64; each ratio is ONE IEEE
    division of exact integers (numerator budget*w, denominator
    sw*tokens — both products exact in int64), so 6-dp rounds and the
    `repeated` comparison agree bit-for-bit on both engines.
    """
    d = table(spark, sf_dir, "documents")
    t = (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("tokens"),
        )
        .withColumn(
            "w",
            F.when(F.col("source").isin(*_TIER_A), 2)
            .otherwise(1)
            .cast("long"),
        )
    )
    tot = t.agg(F.sum("w").alias("sw"))
    num = (F.lit(_EPOCH_BUDGET) * F.col("w")).cast("double")
    den = (F.col("sw") * F.col("tokens")).cast("double")
    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("w").cast("double") / F.col("sw"), 6).alias("target_frac"),
        F.round(num / den, 6).alias("epochs"),
        (num / den > 1.0).alias("repeated"),
    )


@query(
    "q_dedup_chunkdup",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(string_split(text, ' '),
                          chunk_id * {_CHUNK} + 1, chunk_id * {_CHUNK} + {_CHUNK}),
               ' ')) AS chunk_md5
      FROM (SELECT doc_id, text, len(string_split(text, ' ')) AS n FROM documents),
           unnest(generate_series(0, CAST(floor((n - 1) / {_CHUNK}) AS INT))) AS g(chunk_id)
    ),
    dup AS (
      SELECT chunk_md5 FROM chunks GROUP BY chunk_md5
      HAVING count(DISTINCT doc_id) > 1
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           count(d.chunk_md5) AS n_dup_chunks,
           round(count(d.chunk_md5) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
    FROM chunks c LEFT JOIN dup d ON c.chunk_md5 = d.chunk_md5
    GROUP BY c.doc_id
    """,
)
def q_dedup_chunkdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplicate contamination: the fraction of each
    document's 16-token chunks that also appear in some OTHER document —
    the paragraph-dedup signal (CCNet/RefinedWeb style) at chunk
    granularity.

    Chunking is the q_text_chunk explode (linear, no join); the dup set
    is one hash aggregate on chunk_md5; membership is a left join of
    chunks against the (much smaller) dup-digest set, then a per-doc
    aggregate. All shuffle keys are 16-byte digests or doc_id — uniform,
    partitionable, no skew. At 100 TB the dup set is the only global
    state and it is digest-sized, not text-sized.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    chunked = d.select(
        "doc_id",
        t.alias("t"),
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size(t) - 1) / _CHUNK).cast("int"))
        ).alias("chunk_id"),
    )
    piece = F.slice("t", F.col("chunk_id") * _CHUNK + 1, _CHUNK)
    chunks = chunked.select("doc_id", F.md5(F.array_join(piece, " ")).alias("chunk_md5"))
    dup = (
        chunks.groupBy("chunk_md5")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("chunk_md5", F.lit(1).alias("is_dup"))
    )
    return (
        chunks.join(dup, "chunk_md5", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count("is_dup").alias("n_dup_chunks"),
            F.round(F.count("is_dup") / F.count("*").cast("double"), 6).alias("dup_ratio"),
        )
    )


_MIX_TAU = 0.7  # mixture temperature: p_i^tau renormalized (mT5-style)


@query(
    "q_mix_temperature",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    with_p AS (
      SELECT source, n_docs, n_tokens,
             n_tokens / CAST((SELECT sum(n_tokens) FROM per_source) AS DOUBLE) AS p_raw
      FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           round(p_raw, 6) AS p_raw,
           round(pow(p_raw, {_MIX_TAU})
                 / (SELECT sum(pow(p_raw, {_MIX_TAU})) FROM with_p), 6) AS mix_frac,
           round(pow(p_raw, {_MIX_TAU})
                 / (SELECT sum(pow(p_raw, {_MIX_TAU})) FROM with_p) / p_raw, 6)
             AS boost
    FROM with_p
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights: per-source sampling fractions
    ∝ p_i^τ (τ = 0.7), the multilingual/multi-source rebalancing rule —
    low-resource sources get boost > 1, dominant sources < 1.

    Scale shape: one token-count aggregate keyed on source (partial
    map-side sums; the shuffle carries |sources| rows of longs), then
    every derived quantity is arithmetic over that tiny frame with its
    two one-row totals broadcast back — the corpus is scanned exactly
    once regardless of how many statistics are reported. Float parity:
    token counts stay BIGINT through the aggregate; p_raw is a single
    exact division, pow/renormalize are rounded at 6 dp on both engines
    (sub-ulp libm differences round away; the sums feeding every
    denominator are integer or |sources|-sized).
    """
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tok_total = per_source.agg(F.sum("n_tokens").alias("tok_total"))
    with_p = per_source.crossJoin(F.broadcast(tok_total)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("tok_total").cast("double")).alias("p_raw"),
    )
    pow_total = with_p.agg(
        F.sum(F.pow("p_raw", F.lit(_MIX_TAU))).alias("pow_total")
    )
    return with_p.crossJoin(F.broadcast(pow_total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.pow("p_raw", F.lit(_MIX_TAU)) / F.col("pow_total"), 6).alias(
            "mix_frac"
        ),
        F.round(
            F.pow("p_raw", F.lit(_MIX_TAU)) / F.col("pow_total") / F.col("p_raw"), 6
        ).alias("boost"),
    )


# Gap-based sessionization threshold: 8 hours in microseconds. The events
# fixture's median inter-event gap per user is ~7.3 h (measured round 7), so
# 8 h splits user streams into multi-event sessions without degenerating to
# one-session-per-event. Microsecond integer arithmetic end-to-end — the
# boundary test and duration are exact on both engines (no float epoch).
_SESSION_GAP_US = 8 * 3600 * 1_000_000


@query(
    "q_sessionize",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM seq
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts) AS session_start,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream wherever the
    inter-event gap exceeds 8 h, then aggregate per session.

    The classic lag → boundary-flag → running-sum session-id assignment:
    both window passes and the final groupBy share ONE shuffle on user_id
    (Catalyst reuses the sort for same-key windows, and the aggregate is
    partial before the exchange), so the whole operator costs a single
    exchange of the events table regardless of session count. Gap test and
    duration use unix_micros integers — exact cross-engine, no float epoch.
    Complements q_stream_session (watermarked streaming session windows)
    with the batch/backfill formulation of the same semantics.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros rejects TIMESTAMP_NTZ; the NTZ->TZ cast is the repo-wide
    # idiom for exact epoch arithmetic (windows.py, joins.py) — the session
    # offset cancels in every difference below.
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    um_lag = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull() | (um - um_lag > _SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = seq.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("duration_us"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "q_events_attribution",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w
               AS touch_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN touch_us IS NOT NULL
                 AND epoch_us(ts) - touch_us <= CAST(604800000000 AS BIGINT)
                THEN touch_type ELSE 'direct' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 4) AS attributed_revenue
    FROM x WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase's value is credited to the
    channel (event_type) of the user's most recent preceding
    non-purchase event within a 7-day lookback, else to 'direct' — the
    marketing-warehouse rollup every funnel feeds.

    Same tagged-window machinery as q_join_asof_nearest: ONE window
    pass over events partitioned by user (the touch candidates ride in
    nullable columns, resolved by last IGNORE NULLS over the preceding
    frame), then a |channels|-row aggregate — no self-join of the
    event stream against itself, which is the naive formulation's
    |purchases| x |touches|-per-user blowup. The lookback test is
    exact integer microseconds; revenue sums round at 4 dp per the
    float-fold discipline.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    touch_us = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.unix_micros(F.col("ts").cast("timestamp")),
        ),
        ignorenulls=True,
    ).over(w)
    p_us = F.unix_micros(F.col("ts").cast("timestamp"))
    x = e.select(
        "user_id", "ts", "event_id", "event_type", "value",
        touch_type.alias("touch_type"), touch_us.alias("touch_us"),
    ).where(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("touch_us").isNotNull()
        & (p_us - F.col("touch_us") <= F.lit(7 * 86400 * 1000000).cast("long")),
        F.col("touch_type"),
    ).otherwise(F.lit("direct"))
    return (
        x.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_revenue"),
        )
    )


@query(
    "q_sample_balanced",
    oracle="""
    WITH counts AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    m AS (SELECT min(n) AS m FROM counts),
    ranked AS (
      SELECT label, vec_id,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    )
    SELECT label, vec_id, CAST(rn AS BIGINT) AS rn
    FROM ranked CROSS JOIN m WHERE rn <= m.m
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows — the de-skewing step before training a
    classifier on an imbalanced corpus (the label-conditional sibling
    of q_sample_stratified's rate sampling and q_sample_hash's global
    cut).

    Row choice is a deterministic hash order (md5 of the key, vec_id
    tiebreak), NOT rand(): reproducible across runs, retries, engines —
    the property every sampling op in this repo guarantees. The floor
    count is a one-row broadcast from the |labels|-sized count frame;
    selection is one row_number window per label (single shuffle on the
    label key). Skew note for 100 TB: the window sorts each label
    partition, so a dominant class pays |class|·log — if that bites,
    pre-filter with an md5-prefix range to ~2× the floor before ranking
    (the hash order makes the pre-cut consistent with the final cut),
    then rank only the survivors.
    """
    e = table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    counts = e.groupBy("label").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        e.select("label", "vec_id", F.row_number().over(w).alias("rn"))
        .crossJoin(F.broadcast(m))
        .where(F.col("rn") <= F.col("m"))
        .select("label", "vec_id", F.col("rn").cast("long").alias("rn"))
    )


@query(
    "q_pipeline_funnel",
    oracle="""
    WITH flags AS (
      SELECT doc_id,
             len(string_split(text, ' ')) >= 30 AS ok_quality,
             lang IN ('en', 'de', 'fr') AS ok_lang,
             md5(lower(trim(text))) AS digest
      FROM documents
    ),
    agg AS (
      SELECT count(*) AS n_raw,
             count(CASE WHEN ok_quality THEN 1 END) AS n_quality,
             count(CASE WHEN ok_quality AND ok_lang THEN 1 END) AS n_lang,
             count(DISTINCT CASE WHEN ok_quality AND ok_lang
                                 THEN digest END) AS n_dedup,
             count(DISTINCT CASE WHEN ok_quality AND ok_lang
                                 AND substring(digest, 1, 1) IN ('0','1','2','3')
                                 THEN digest END) AS n_sample
      FROM flags
    )
    SELECT 1 AS stage_no, 'raw' AS stage, n_raw AS n_rows,
           round(n_raw / CAST(n_raw AS DOUBLE), 6) AS frac_of_raw FROM agg
    UNION ALL
    SELECT 2, 'quality', n_quality, round(n_quality / CAST(n_raw AS DOUBLE), 6) FROM agg
    UNION ALL
    SELECT 3, 'lang', n_lang, round(n_lang / CAST(n_raw AS DOUBLE), 6) FROM agg
    UNION ALL
    SELECT 4, 'dedup', n_dedup, round(n_dedup / CAST(n_raw AS DOUBLE), 6) FROM agg
    UNION ALL
    SELECT 5, 'sample', n_sample, round(n_sample / CAST(n_raw AS DOUBLE), 6) FROM agg
    """,
)
def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's own funnel: survivor counts through
    raw → quality floor (≥30 tokens) → language allowlist → exact-dedup
    → 25% hash sample — the per-stage attrition report every
    training-data run publishes next to its output (and the first
    thing an operator reads when a corpus shrinks unexpectedly).

    ONE corpus scan computes all five stages: per-doc flags + digest,
    then a single aggregate whose conditional counts reuse the
    cumulative predicate chain (a naive implementation re-filters and
    re-scans per stage — 5 scans for 5 numbers; at 100 TB that is the
    difference between a dashboard tile and a day job). The two dedup
    stages are conditional count(DISTINCT digest) — Catalyst plans the
    distincts via expand, still one pass over the scan. Stage rows
    unfold from the 1-row aggregate, so the output is fixed-shape
    regardless of corpus size. Stage predicates reuse the repo's
    conventions: token floor (q_text_quality), md5 content digest
    (q_dedup_exact), md5-prefix sampling (q_sample_hash).
    """
    d = table(spark, sf_dir, "documents")
    flags = d.select(
        (F.size(F.split("text", " ")) >= 30).alias("ok_quality"),
        F.col("lang").isin("en", "de", "fr").alias("ok_lang"),
        F.md5(F.lower(F.trim("text"))).alias("digest"),
    )
    qual = F.col("ok_quality")
    both = F.col("ok_quality") & F.col("ok_lang")
    sampled = both & F.substring("digest", 1, 1).isin("0", "1", "2", "3")
    agg = flags.agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(qual, 1)).alias("n_quality"),
        F.count(F.when(both, 1)).alias("n_lang"),
        F.countDistinct(F.when(both, F.col("digest"))).alias("n_dedup"),
        F.countDistinct(F.when(sampled, F.col("digest"))).alias("n_sample"),
    )
    stages = [
        (1, "raw", "n_raw"),
        (2, "quality", "n_quality"),
        (3, "lang", "n_lang"),
        (4, "dedup", "n_dedup"),
        (5, "sample", "n_sample"),
    ]
    out = None
    for no, name, col in stages:
        row = agg.select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.col(col).alias("n_rows"),
            F.round(F.col(col) / F.col("n_raw").cast("double"), 6).alias(
                "frac_of_raw"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "q_mix_curriculum",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(CASE WHEN len(string_split(text, ' ')) < 40 THEN 0
                       WHEN len(string_split(text, ' ')) < 60 THEN 1
                       ELSE 2 END AS INT) AS bucket
      FROM documents
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(row_number() OVER (ORDER BY bucket, doc_id) AS BIGINT) AS pos
    FROM b
    """,
)
def q_mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum ordering: assign every document a global
    training position such that short documents (bucket 0: < 40 tokens)
    are consumed first, then medium (40-59), then long (>= 60) — the
    classic sequence-length curriculum, and the deterministic global
    ORDER a data loader actually needs (an explicit position column, not
    a sorted file it would have to trust).

    The oracle states the semantics directly (one global row_number over
    (bucket, doc_id)); the engine may NOT compute it that way — a global
    row_number is a one-partition window over the corpus. And partition-
    ing the window on the 3-value bucket alone is the same trap with
    three tasks instead of one. So this runs the house TWO-LEVEL prefix
    scan (q_time_concurrency / q_skyline): documents sub-bucket into
    doc_id RANGES (fixed width here; a production loader computes range
    bounds from approxQuantile exactly like Spark's own RangePartitioner),
    then (1) row_number WITHIN each (bucket, range) — a window partition-
    ed on |buckets| x |ranges| keys, parallel at any scale, (2) per-
    (bucket, range) counts roll into offsets via a prefix-sum window over
    the metadata-sized count frame (the documented single-partition
    exception), broadcast back. pos = offset + local rank: a collision-
    free 1..N total order from one corpus scan, one properly-partitioned
    window shuffle, and one broadcast join — and the hash gate proves the
    two-phase plan equals the naive global formulation row for row.

    The bucketed frame feeds BOTH phases (the counts branch and the join
    probe), so it is localCheckpoint'ed (q_corpus_report pattern) —
    without the barrier the documents parquet is scanned and tokenized
    twice. The checkpoint holds the 4-int projection (text already
    dropped), a small fraction of corpus bytes; it backs the RETURNED
    frame, so it is never freed (checkpoints.free_local_checkpoint rule).
    The plan test pins scan count == 1.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " ")).cast("bigint")
    b = d.select(
        "doc_id",
        ntok.alias("n_tokens"),
        F.when(ntok < 40, 0).when(ntok < 60, 1).otherwise(2)
        .cast("int")
        .alias("bucket"),
        F.floor(F.col("doc_id") / 64).alias("rb"),
    ).localCheckpoint()
    counts = b.groupBy("bucket", "rb").agg(F.count("*").alias("n"))
    # |buckets x ranges| rows: the documented metadata-scale single-
    # partition prefix-sum window (two-phase scan pattern)
    w_off = Window.orderBy("bucket", "rb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bucket",
        "rb",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("bigint").alias("off"),
    )
    w_in = Window.partitionBy("bucket", "rb").orderBy("doc_id")
    return (
        b.join(F.broadcast(offsets), ["bucket", "rb"])
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            (F.col("off") + F.row_number().over(w_in)).cast("bigint").alias("pos"),
        )
    )


# Split-fraction rule for the leakage-safe train/val split: first hex digit
# of md5(cluster_id) in 0..2 => 'val' (3/16 = 18.75%), else 'train'. Same
# deterministic-hex-bucket convention as _SAMPLE_HEX above — but hashed on
# the near-dup CLUSTER label, never the doc id.
_VAL_HEX = ("0", "1", "2")


@query(
    "q_split_leakage_safe",
    oracle="""
    WITH RECURSIVE sets AS (
      SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    edges AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL SELECT db, da FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
                     IN ('0', '1', '2')
                THEN 'val' ELSE 'train' END AS split
    FROM clusters
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: assign every document by hashing its
    near-dup CLUSTER id (q_dedup_cluster's connected-component label over
    the Jaccard>=0.8 pair graph), never the doc id — so a near-duplicate
    chain can NEVER straddle the split. This PREVENTS at assignment time
    the eval-contamination failure mode q_decontaminate can only screen
    for after the fact: split-by-doc-hash puts ~18.75% of each near-dup
    cluster's members in val, training on the rest — memorization
    measured as generalization. Here split is a pure function of the
    cluster label, so the whole cluster moves as one unit, and the
    assignment is reproducible across runs, retries and partitionings
    (md5 on the label, the _SAMPLE_HEX determinism rationale).

    Scale shape: identical to q_dedup_cluster (whose iterated frame is
    |docs-in-pairs|, orders of magnitude below the corpus at 100 TB;
    singletons join in label-free) plus ONE more map-side hash on the
    |docs|-row label frame — no extra shuffle, no window. The oracle
    recomputes the same unique CC fixpoint via the recursive CTE and
    applies the same hex rule; hash parity proves cluster labels AND
    split assignments agree row for row. Cross-engine hash input is the
    DECIMAL string of the BIGINT label on both sides (CAST AS
    VARCHAR == Spark cast('string') for integers).
    """
    from data_pipeline_etl_spark.operators.llm_dedup import dedup_clusters_table

    return split_from_clusters(dedup_clusters_table(spark, sf_dir))


def split_leakage_for(
    d: DataFrame, elements: DataFrame | None = None
) -> DataFrame:
    """Frame-parameterized body of q_split_leakage_safe (doc_id,
    cluster_id, split) so scripts/scaling_probe.py measures the full
    build — the dedup_clusters_for pair-build + CC loop plus one
    map-side hash projection. The declared query reads the
    session-materialized label table instead (split_from_clusters over
    dedup_clusters_table); ``elements`` forwards a prebuilt store
    element index (ADVICE r15 item 1, q_split_incremental)."""
    from data_pipeline_etl_spark.operators.llm_dedup import dedup_clusters_for

    return split_from_clusters(dedup_clusters_for(d, elements=elements))


def split_from_clusters(clusters: DataFrame) -> DataFrame:
    """The md5-of-cluster-label split projection (one map-side pass) —
    shared by the declared query (cached labels) and split_leakage_for
    (fresh build)."""
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1).isin(
                *_VAL_HEX
            ),
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@query(
    "q_mix_dedup_aware",
    oracle="""
    WITH RECURSIVE sets AS (
      SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    edges AS (
      SELECT da AS src, db AS dst FROM pairs
      UNION ALL SELECT db, da FROM pairs
    ),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ),
    per_doc AS (
      SELECT d.source,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             (c.cluster_id = d.doc_id) AS survivor
      FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    ),
    per_src AS MATERIALIZED (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_survivors,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
             CAST(sum(CASE WHEN survivor THEN n_tokens ELSE 0 END) AS BIGINT)
                 AS tokens_dedup
      FROM per_doc GROUP BY source
    ),
    tot AS (SELECT CAST(sum(tokens_dedup) AS BIGINT) AS t FROM per_src)
    SELECT source, n_docs, n_survivors, tokens_raw, tokens_dedup,
           round(1.0 - CAST(tokens_dedup AS DOUBLE) / tokens_raw, 6)
               AS dup_token_frac,
           round(CAST(tokens_dedup AS DOUBLE) / t, 6) AS mix_frac_dedup
    FROM per_src CROSS JOIN tot
    """,
)
def q_mix_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware mixture report: per-source token counts where each
    near-dup CLUSTER contributes its tokens ONCE (the min-doc_id
    survivor, q_dedup_cluster's label convention) — the mixture-weight
    input a curated training run actually wants. Raw token counts
    OVER-WEIGHT duplicate-heavy sources: a source that is 40% near-dups
    claims 1.67x its unique content's share of the budget if the mix is
    computed pre-dedup. `dup_token_frac` is per-source duplication
    overhead; `mix_frac_dedup` is the corrected mixture share (the
    number q_mix_weighted/q_mix_epochs would consume instead of raw
    counts in a dedup-then-mix pipeline).

    Scale shape: the q_dedup_cluster machinery (pair graph is
    |docs-in-pairs|-sized, pointer-doubling CC, blocked by
    (lang, source) so clusters never span sources) plus ONE
    doc_id-keyed corpus join of the label frame onto a 3-column token
    projection, a |source|-group aggregate, and a 1-row broadcast
    total. Exactness: token sums and survivor counts are int64; each
    fraction is one IEEE division of exact ints, 6-dp rounded on both
    engines.
    """
    from data_pipeline_etl_spark.operators.llm_dedup import dedup_clusters_table

    return mix_dedup_aware_for(
        table(spark, sf_dir, "documents"),
        clusters=dedup_clusters_table(spark, sf_dir),
    )


def mix_dedup_aware_for(
    d: DataFrame, clusters: DataFrame | None = None
) -> DataFrame:
    """Frame-parameterized body of q_mix_dedup_aware so
    scripts/scaling_probe.py measures the full build — the
    dedup_clusters_for body plus the doc_id-keyed token join and the
    |source|-group aggregate. The declared query passes the
    session-materialized label table as ``clusters`` (the
    materialize-once topology, operators/materialized.py)."""
    from data_pipeline_etl_spark.operators.llm_dedup import dedup_clusters_for

    if clusters is None:
        clusters = dedup_clusters_for(d)
    per_doc = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    ).join(clusters, "doc_id")
    surv = F.col("cluster_id") == F.col("doc_id")
    # |source|-row frame fed to BOTH the total branch and the final
    # probe: localCheckpoint so the corpus join+agg above runs ONCE
    # (the q_mix_curriculum barrier discipline); it backs the returned
    # frame, so it is never freed.
    per_src = (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(surv, 1).otherwise(0)).cast("bigint").alias("n_survivors"),
            F.sum("n_tokens").alias("tokens_raw"),
            F.sum(F.when(surv, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dedup"),
        )
        .localCheckpoint()
    )
    tot = per_src.agg(F.sum("tokens_dedup").alias("t"))
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_survivors",
        "tokens_raw",
        "tokens_dedup",
        F.round(
            F.lit(1.0) - F.col("tokens_dedup").cast("double") / F.col("tokens_raw"),
            6,
        ).alias("dup_token_frac"),
        F.round(F.col("tokens_dedup").cast("double") / F.col("t"), 6).alias(
            "mix_frac_dedup"
        ),
    )


def _store_and_batch(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """q_split_incremental's cut: the store is the older half of the
    doc ids, the batch the arrival-ordered newer half."""
    cut = d.agg((F.max("doc_id") / 2).alias("cut"))
    dc = d.crossJoin(F.broadcast(cut))
    store = dc.where(F.col("doc_id") < F.col("cut"))
    return store, dc.where(F.col("doc_id") >= F.col("cut"))


@artifact("split_store")
def _split_store(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The store half's materialized state that production screens every
    arriving batch against (q_dedup_incremental's store-index topology):
    its unigram element index and its split assignment (the probed
    dedup_clusters_for body at half corpus). ONE store element build,
    read by both the store CC body and q_split_incremental's batch
    screen."""
    from data_pipeline_etl_spark.operators.llm_dedup import _unigram_elements

    store, _ = _store_and_batch(table(spark, sf_dir, "documents"))
    exs = _unigram_elements(store).localCheckpoint()
    ssplit = (
        split_leakage_for(store, elements=exs)
        .select(F.col("doc_id").alias("sid"), F.col("split").alias("store_split"))
        .localCheckpoint()
    )
    return exs, ssplit


@query(
    "q_split_incremental",
    oracle="""
    WITH RECURSIVE
    params AS MATERIALIZED (SELECT max(doc_id) / 2 AS cut FROM documents),
    store AS MATERIALIZED (
      SELECT d.* FROM documents d, params WHERE d.doc_id < cut
    ),
    batch AS MATERIALIZED (
      SELECT d.* FROM documents d, params WHERE d.doc_id >= cut
    ),
    ssets AS MATERIALIZED (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM store
    ),
    spairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM ssets a JOIN ssets b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    sedges AS (
      SELECT da AS src, db AS dst FROM spairs
      UNION ALL SELECT db, da FROM spairs
    ),
    sreach AS (
      SELECT doc_id AS src, doc_id AS dst FROM store
      UNION
      SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src
    ),
    ssplit AS (
      SELECT src AS doc_id,
             CASE WHEN substring(md5(CAST(min(dst) AS VARCHAR)), 1, 1)
                       IN ('0', '1', '2')
                  THEN 'val' ELSE 'train' END AS split
      FROM sreach GROUP BY src
    ),
    bsets AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM batch
    ),
    xmatch AS (
      SELECT b.doc_id, min(s.doc_id) AS matched
      FROM bsets b JOIN ssets s
        ON b.lang = s.lang AND b.source = s.source
      WHERE len(list_intersect(b.toks, s.toks))
            / (len(b.toks) + len(s.toks) - len(list_intersect(b.toks, s.toks))) >= 0.8
      GROUP BY b.doc_id
    )
    SELECT b.doc_id,
           CAST(m.matched AS BIGINT) AS matched_store_doc,
           m.matched IS NOT NULL AS inherited,
           COALESCE(ss.split,
                    CASE WHEN substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 1)
                              IN ('0', '1', '2')
                         THEN 'val' ELSE 'train' END) AS split
    FROM batch b
    LEFT JOIN xmatch m ON b.doc_id = m.doc_id
    LEFT JOIN ssplit ss ON m.matched = ss.doc_id
    """,
)
def q_split_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment at INGEST time — the production
    counterpart of q_split_leakage_safe, which reclusters the whole
    corpus and cannot run per batch at 100 TB. A NEW batch (the
    arrival-ordered newer half, the q_dedup_incremental cut convention)
    is screened against the EXISTING store: a batch doc that near-dups
    (Jaccard >= 0.8, (lang, source)-blocked) any store doc INHERITS the
    split of its matched store doc's cluster — so it can never land
    opposite its near-duplicates already in train/val — and an unmatched
    doc hashes its OWN id (its singleton cluster label under the
    q_split_leakage_safe convention, so a later full recluster assigns
    it identically).

    Two boundaries stated, not hidden: (1) batch-INTERNAL near-dup pairs
    that match no store doc each hash their own id and may straddle —
    single-pass ingest cannot see batch-internal chains; the next full
    recluster (q_split_leakage_safe) or the admitted-batch compaction
    resolves them (the q_dedup_ingest disposition split has the same
    contract). (2) a batch doc bridging TWO store clusters inherits the
    min-doc_id match deterministically; the bridge merges those clusters
    at the next recluster.

    Scale shape: the store's own split assignment is the materialized
    table production reads; here it is the :func:`_split_store`
    artifact, built from the fixture so the query stays oracle-able
    (store-side pair build + CC — the probed dedup_clusters_for body at
    half corpus). The batch screen is
    the asymmetric inverted-index join: store-elements x batch-elements
    equi-join on (lang, source, el), per-pair intersection counts, set
    sizes joined after — pairs only materialize for docs sharing an
    element, and at 100 TB only batch-sized frames shuffle against a
    band-bucketed store (q_dedup_incremental's topology with exact
    Jaccard verification, i.e. LSH candidates -> verify -> inherit).
    """
    from data_pipeline_etl_spark.operators.llm_dedup import _unigram_elements

    _, batch = _store_and_batch(table(spark, sf_dir, "documents"))
    exs, ssplit = _split_store(spark, sf_dir)

    # asymmetric inverted-index Jaccard: store elements x batch elements
    exb = _unigram_elements(batch)
    ns = exs.groupBy("doc_id").agg(F.count("*").alias("n_s"))
    nb = exb.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    s, b = exs.alias("s"), exb.alias("b")
    inter = (
        s.join(
            b,
            (F.col("s.lang") == F.col("b.lang"))
            & (F.col("s.source") == F.col("b.source"))
            & (F.col("s.el") == F.col("b.el")),
        )
        .groupBy(F.col("b.doc_id").alias("doc_id"), F.col("s.doc_id").alias("sid"))
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_b") + F.col("n_s") - F.col("inter"))
    match = (
        inter.join(ns.select(F.col("doc_id").alias("sid"), "n_s"), "sid")
        .join(nb, "doc_id")
        .where(jac >= 0.8)
        .groupBy("doc_id")
        .agg(F.min("sid").alias("matched_store_doc"))
    )
    own = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(*_VAL_HEX),
        F.lit("val"),
    ).otherwise(F.lit("train"))
    return (
        batch.select("doc_id")
        .join(match, "doc_id", "left")
        .join(
            ssplit, F.col("matched_store_doc") == F.col("sid"), "left"
        )
        .select(
            "doc_id",
            "matched_store_doc",
            F.col("matched_store_doc").isNotNull().alias("inherited"),
            F.coalesce("store_split", own).alias("split"),
        )
    )


# Token-budgeted snapshot: global budget and integer per-tier weights.
# Allocations are exact integers (floor(B*w/sum_w)) so both engines agree
# without float division; 120000/30 divides exactly anyway (tier A 8000,
# tier B 4000 tokens per source at w=2/1 over 10+10 sources).
_BUDGET_TOKENS = 120_000
_BUDGET_W_TOTAL = 2 * 10 + 1 * 10  # sum of per-source weights (A=2, B=1)
_BUDGET_A = _BUDGET_TOKENS * 2 // _BUDGET_W_TOTAL
_BUDGET_B = _BUDGET_TOKENS * 1 // _BUDGET_W_TOTAL


@query(
    "q_mix_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             md5(text) AS h,
             doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
      WHERE text IS NOT NULL
    ),
    cum AS (
      SELECT source, nt,
             sum(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) - nt AS cum_before
      FROM toks
    )
    SELECT source,
           CAST(CASE WHEN source IN ({_TIER_A_SQL})
                     THEN {_BUDGET_A} ELSE {_BUDGET_B} END AS BIGINT)
             AS alloc_tokens,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS tokens_kept,
           round(CAST(sum(nt) AS DOUBLE) /
                 CASE WHEN source IN ({_TIER_A_SQL})
                      THEN {_BUDGET_A} ELSE {_BUDGET_B} END, 6) AS fill_frac
    FROM cum
    WHERE cum_before < CASE WHEN source IN ({_TIER_A_SQL})
                            THEN {_BUDGET_A} ELSE {_BUDGET_B} END
    GROUP BY source
    """,
)
def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGETED corpus snapshot: each source gets an integer token
    allocation (global budget x tier weight / weight total — the same
    2:1 tier-A/B weighting as q_mix_weighted/q_mix_epochs), and keeps
    its documents in deterministic content-hash order until the
    allocation is filled. 'Give me a 120k-token snapshot at these
    mixture weights, the same snapshot every run' is the step between
    mixture design (q_mix_weighted computes fractions) and training:
    rate-based hash sampling cannot promise a token TOTAL, and rand()
    ordering is neither reproducible nor partition-stable. Greedy
    prefix rule: a doc is kept iff the tokens BEFORE it (md5, doc_id
    order within its source) are still under the allocation — so the
    boundary-straddling doc is kept (budgets are floors on coverage,
    overshoot is one doc max; the planted pin exercises both edges).

    The oracle states the semantics as one per-source running sum — the
    low-cardinality-partition trap (|sources|=20 tasks over the corpus;
    q_mix_curriculum docstring). The engine runs the house TWO-LEVEL
    prefix scan instead: sub-bucket each source by the FIRST HEX DIGIT
    of the ordering hash — hash-prefix buckets are contiguous ranges of
    the (h, doc_id) order, so per-bucket sums roll up into exact global
    offsets, unlike arbitrary salt — then (1) an ordered cumsum within
    each (source, hex) partition (|sources| x 16 keys, parallel at any
    scale), (2) a prefix-sum window over the |sources| x 16-row count
    frame (the documented metadata-sized single-partition exception),
    broadcast back: cum_before = bucket offset + local cumsum - nt.
    The one-hex-digit bucket width (16 ranges/source) sizes for the
    fixtures; it is a dial, not a design bound — at terabytes per
    source widen to 2-3 digits (256/4096 contiguous ranges) with the
    identical offset algebra, exactly like q_mix_curriculum's range
    width or q_time_concurrency's day→hour bucket drop.
    One corpus scan (the projected frame feeds both the counts branch
    and the probe join, so it is localCheckpoint'ed — q_mix_curriculum
    pattern; it backs the returned frame, never freed), one properly-
    partitioned window shuffle, one broadcast join, and a 20-row
    aggregate. The hash gate proves the two-phase plan equals the
    naive per-source window row for row. NULL text is filtered on both
    sides (md5(NULL) is NULL and the engines disagree on NULL sort
    placement; a NULL doc has no tokens to budget). fill_frac is exact
    at 6 dp: allocations 8000/4000 are 2^6*5^3/2^5*5^3, so the decimal
    expansion of tokens/alloc terminates within 6 places — no
    half-even-vs-half-up boundary exists (scalar2.py parity rules).
    """
    d = table(spark, sf_dir, "documents")
    alloc = (
        F.when(F.col("source").isin(*_TIER_A), F.lit(_BUDGET_A))
        .otherwise(F.lit(_BUDGET_B))
        .cast("bigint")
    )
    base = (
        d.where(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ")).cast("bigint").alias("nt"),
        )
        .withColumn("hb", F.substring("h", 1, 1))
        .localCheckpoint()
    )
    counts = base.groupBy("source", "hb").agg(F.sum("nt").alias("bn"))
    # |sources| x 16 rows: metadata-sized prefix-sum window (two-phase
    # scan pattern) — partitioned on source, ordered by the hex bucket
    # whose lexical order matches the hash order it partitions.
    w_off = Window.partitionBy("source").orderBy("hb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "source",
        "hb",
        F.coalesce(F.sum("bn").over(w_off), F.lit(0)).cast("bigint").alias("off"),
    )
    w_in = Window.partitionBy("source", "hb").orderBy("h", "doc_id")
    cum_before = F.col("off") + F.sum("nt").over(w_in) - F.col("nt")
    kept = (
        base.join(F.broadcast(offsets), ["source", "hb"])
        .withColumn("cum_before", cum_before)
        .where(F.col("cum_before") < alloc)
    )
    return kept.groupBy("source").agg(
        F.max(alloc).alias("alloc_tokens"),
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("tokens_kept"),
        F.round(F.sum("nt") / F.max(alloc), 6).alias("fill_frac"),
    )
