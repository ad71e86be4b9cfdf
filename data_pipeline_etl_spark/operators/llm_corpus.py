"""Group J+ — corpus-level statistics for training-data curation.

Three operators a 100 TB text pipeline runs before training: distribution
drift between corpus slices (KL divergence), Zipf-law fit per slice (a
cheap corpus-health check — synthetic/looped text shows a degenerate
slope), and benchmark contamination (what fraction of an eval set's
n-grams already occur in the training corpus).

All three reduce to token-frequency aggregates: one explode over the
corpus, partial+final HashAggregate on (slice, token), then joins between
the resulting frequency tables — which are |vocabulary|-sized, orders of
magnitude smaller than the corpus itself. The corpus is scanned once per
operator; everything after the first aggregate is vocabulary-scale.

Float-fold discipline (see llm_similarity.py): per-term KL contributions
are doubles summed in partition order, so results are rounded to 6 dp on
both engines; each per-term ratio is computed from exact int64 counts
(n*G and nl*g stay far below 2^63 at any realistic vocabulary size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import fanout, table


def _lang_tok_counts(d: DataFrame) -> DataFrame:
    """(lang, tok) -> n: the one corpus-scan aggregate both stats reuse."""
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_text_kl",
    oracle="""
    WITH lang_tok AS (
      SELECT lang, tok, count(*) AS n
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok
    ),
    glob_tok AS (
      SELECT tok, CAST(sum(n) AS BIGINT) AS g FROM lang_tok GROUP BY tok
    ),
    lang_tot AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM lang_tok GROUP BY lang
    ),
    glob_tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS gt FROM lang_tok
    )
    SELECT lt.lang,
           count(*) AS n_terms,
           round(sum((lt.n / CAST(t.nl AS DOUBLE))
                     * ln((lt.n * g2.gt) / CAST(t.nl * gl.g AS DOUBLE))), 6) AS kl
    FROM lang_tok lt
    JOIN glob_tok gl ON lt.tok = gl.tok
    JOIN lang_tot t  ON lt.lang = t.lang
    CROSS JOIN glob_tot g2
    GROUP BY lt.lang
    """,
)
def q_text_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each language slice's unigram distribution from
    the whole-corpus distribution: KL(P_lang || Q) = sum p*ln(p/q).

    Drift detection between corpus slices (a new crawl snapshot vs the
    incumbent mix). Every slice token occurs in the global table by
    construction, so q > 0 and the log is always defined.

    One-pass shape: the four frequency tables the formula needs —
    (lang, tok), (lang), (tok), and the grand total — come from a
    SINGLE cube aggregate over one corpus explode, split by
    grouping_id, with the vocabulary-scale cube output materialized
    once via localCheckpoint (the sanctioned barrier from
    q_dedup_cluster). Both halves matter: separate groupBys planned as
    FOUR corpus scans + explodes, and even the shared cube is NOT
    deduplicated by ReuseExchange alone — column pruning specializes
    each branch's aggregate (the lang-total branch drops `tok`), so the
    four exchanges stop being identical and Catalyst re-reads the
    corpus per branch (measured: 4 FileScans without the barrier, 1
    with — pinned by tests/test_plans.py). The 4× Expand multiplies
    rows before the partial agg, where map-side combine immediately
    collapses them to ≤ 4·|lang × vocab| per partition; the
    checkpointed table is |lang × vocab|, trivially re-scannable.
    """
    d = table(spark, sf_dir, "documents")
    ex = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    cube = (
        ex.cube("lang", "tok")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("gid"))
        .localCheckpoint()
    )
    lang_tok = cube.where(F.col("gid") == 0).select("lang", "tok", "n")
    lang_tot = cube.where(F.col("gid") == 1).select("lang", F.col("n").alias("nl"))
    glob_tok = cube.where(F.col("gid") == 2).select("tok", F.col("n").alias("g"))
    glob_tot = cube.where(F.col("gid") == 3).select(F.col("n").alias("gt"))
    p = F.col("n") / F.col("nl")
    # exact-int64 numerator/denominator, single double division per term
    ratio = (F.col("n") * F.col("gt")) / (F.col("nl") * F.col("g")).cast("double")
    return (
        lang_tok.join(glob_tok, "tok")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(glob_tot))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(p * F.log(ratio)), 6).alias("kl"),
        )
    )


@query(
    "q_text_zipf",
    oracle="""
    WITH lang_tok AS (
      SELECT lang, tok, count(*) AS n
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok
    ),
    ranked AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rnk
      FROM lang_tok
    )
    SELECT lang,
           count(*) AS n_vocab,
           round(regr_slope(ln(n), ln(rnk)), 6) AS zipf_slope
    FROM ranked
    GROUP BY lang
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS slope of ln(freq) on ln(rank).

    Natural corpora fit slope ~ -1; templated or looped text (a common
    crawl pathology) flattens or steepens the curve, so the slope is a
    one-number corpus-health probe. Ranking is deterministic (freq desc,
    token asc tiebreak); regr_slope aggregates doubles, rounded 6 dp.
    The window partitions on lang — 5 partitions of vocabulary size,
    nothing corpus-scale moves after the frequency aggregate.
    """
    d = table(spark, sf_dir, "documents")
    lang_tok = _lang_tok_counts(d)
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    ranked = lang_tok.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_vocab"),
        F.round(F.regr_slope(F.log("n"), F.log("rnk")), 6).alias("zipf_slope"),
    )


@query(
    "q_contamination",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             ))) AS bigram
      FROM documents
    ),
    bench AS (
      SELECT doc_id, bigram FROM grams WHERE source = 'src0'
    ),
    corpus AS (
      SELECT DISTINCT bigram FROM grams WHERE source <> 'src0'
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST(count(c.bigram) AS BIGINT) AS n_contam,
           round(count(c.bigram) / CAST(count(*) AS DOUBLE), 6) AS contam_frac
    FROM bench b LEFT JOIN corpus c ON b.bigram = c.bigram
    GROUP BY b.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: for each held-out document (source
    'src0' plays the eval set), the fraction of its distinct bigrams
    that occur anywhere in the rest of the corpus.

    The decontamination primitive every training pipeline runs before a
    data release. Shape: distinct bigrams per benchmark doc (small side)
    equi-joined to the corpus's distinct-bigram table on the bigram
    string — an inverted-index join, never doc x doc. At 100 TB the
    corpus side is the big one: the distinct-aggregate shrinks it to
    |vocabulary^2-ish| before the join, and both sides shuffle once on
    the bigram key (no broadcast assumption — a web-scale corpus's
    bigram set does not fit in one executor).
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", "source", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .distinct()
    )
    bench = grams.where(F.col("source") == "src0").select("doc_id", "bigram")
    corpus = (
        grams.where(F.col("source") != "src0")
        .select("bigram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return bench.join(corpus, "bigram", "left").groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.count("hit").alias("n_contam"),
        F.round(F.count("hit") / F.count("*").cast("double"), 6).alias("contam_frac"),
    )


_DECONTAM_THRESHOLD = 0.8  # drop a train doc at >= 80% eval-bigram overlap


@query(
    "q_decontaminate",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             ))) AS bigram
      FROM documents
    ),
    eval_g AS (
      SELECT DISTINCT bigram FROM grams WHERE source = 'src0'
    ),
    train AS (
      SELECT doc_id, bigram FROM grams WHERE source <> 'src0'
    ),
    report AS (
      SELECT t.doc_id,
             count(*) AS n_bigrams,
             CAST(count(e.bigram) AS BIGINT) AS n_eval_hits,
             round(count(e.bigram) / CAST(count(*) AS DOUBLE), 6) AS hit_frac,
             CASE WHEN count(e.bigram) / CAST(count(*) AS DOUBLE) >= 0.8
                  THEN 'drop' ELSE 'keep' END AS disposition
      FROM train t LEFT JOIN eval_g e ON t.bigram = e.bigram
      GROUP BY t.doc_id
    )
    SELECT td.doc_id,
           coalesce(r.n_bigrams, 0) AS n_bigrams,
           coalesce(r.n_eval_hits, 0) AS n_eval_hits,
           coalesce(r.hit_frac, 0.0) AS hit_frac,
           coalesce(r.disposition, 'keep') AS disposition
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') td
    LEFT JOIN report r ON td.doc_id = r.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set DECONTAMINATION — the removal half of the
    contamination story (q_contamination measures how much of each
    eval doc leaks from the corpus; this query filters the TRAIN side,
    the direction every pipeline actually runs before a data release):
    per training document, its distinct-bigram overlap with the eval
    set (source 'src0' plays the benchmark) and a keep/drop disposition
    at the ``_DECONTAM_THRESHOLD`` overlap fraction. The output is the
    full disposition REPORT (the q_dedup_ingest convention — auditable,
    and the kept set is one filter away). TOTAL over the train set
    (ADVICE r12): documents with fewer than two tokens produce no
    bigrams and hence no overlap group, so the report is left-joined
    back to the full train doc_id set with a default
    ``(n_bigrams=0, n_eval_hits=0, hit_frac=0.0, 'keep')`` row —
    "kept set is one filter away" must not silently drop single-word
    documents.

    Scale shape: eval benchmarks are tiny next to a training corpus, so
    the eval bigram set is deduped and BROADCAST; the train side
    derives per-doc distinct bigrams (window partitioned by doc_id) and
    aggregates on doc_id — the window shuffle establishes the doc_id
    partitioning the groupBy reuses, so the corpus shuffles once and
    never joins doc x doc. Disposition compares the UNROUNDED IEEE
    ratio against the same literal on both engines (the rounded
    ``hit_frac`` is display-only), so the boundary cannot diverge.
    Threshold 0.8 splits the fixture corpus non-trivially (~228 drop /
    247 keep at sf0.01 — the synthetic 31-token vocabulary makes
    bigram overlap high by construction; a real corpus sits near 0).

    r17: input fanned out — the bigram derivation otherwise serializes
    on the one-row-group local fixture (measured ~1.17× warm at sf0.1;
    no-op on multi-split cluster layouts)."""
    return decontaminate_for(fanout(table(spark, sf_dir, "documents")))


@query(
    "q_source_overlap",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT source, bigram FROM (
        SELECT source,
               unnest(list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i + 1]
               )) AS bigram
        FROM documents)
    ),
    sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS n_shared
      FROM grams a JOIN grams b
        ON a.bigram = b.bigram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           round(i.n_shared / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair bigram-overlap matrix — corpus forensics at the
    SOURCE level (the doc-level dedup family answers "which documents
    duplicate each other"; this answers "which SOURCES copy from each
    other", the view a data-acquisition audit reads before weighting a
    mixture): for every ordered source pair, the two distinct-bigram
    set sizes, their intersection, and the set Jaccard.

    Scale shape: one distinct aggregate shrinks the corpus to
    |sources x bigram-vocabulary| rows, and the pair expansion is an
    inverted-index equi-join ON THE BIGRAM (fan-out per bigram bounded
    by the source count, which is small by definition) — never a
    doc x doc or corpus x corpus join. The |sources|-row size table
    broadcasts onto the result. Jaccard divides exact BIGINTs in
    identical IEEE order on both engines, then rounds to 6 dp. The
    matrix is SPARSE by construction: a source pair sharing zero
    bigrams produces no row (inner join on the bigram) — at corpus
    scale most pairs are absent, which is the point of the report."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("source", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    inter = (
        grams.alias("a")
        .join(
            grams.select(
                F.col("source").alias("src_b"), F.col("bigram").alias("bigram")
            ).alias("b"),
            (F.col("a.bigram") == F.col("b.bigram"))
            & (F.col("a.source") < F.col("src_b")),
        )
        .groupBy(F.col("a.source").alias("src_a"), "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def decontaminate_for(d: DataFrame) -> DataFrame:
    """Frame-parameterized body of q_decontaminate so
    scripts/scaling_probe.py measures the exact declared plan shape
    (broadcast eval bigrams + one train-corpus shuffle) on replicated
    corpora."""
    tok = d.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", "source", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .distinct()
    )
    eval_g = (
        grams.where(F.col("source") == "src0")
        .select("bigram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.where(F.col("source") != "src0").select("doc_id", "bigram")
    frac = F.count("hit") / F.count("*").cast("double")
    report = (
        train.join(F.broadcast(eval_g), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count("hit").alias("n_eval_hits"),
            F.round(frac, 6).alias("hit_frac"),
            F.when(frac >= _DECONTAM_THRESHOLD, F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("disposition"),
        )
    )
    # Totality over the train set (ADVICE r12): a <2-token document has
    # no bigrams, so it never reaches the overlap join — re-attach it
    # with a default keep row. One extra shuffle of a single projected
    # column on doc_id; the report side is already doc_id-partitioned
    # by the groupBy, so only the slim doc-id list moves.
    all_train = d.where(F.col("source") != "src0").select("doc_id")
    return all_train.join(report, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce("n_eval_hits", F.lit(0).cast("long")).alias("n_eval_hits"),
        F.coalesce("hit_frac", F.lit(0.0)).alias("hit_frac"),
        F.coalesce("disposition", F.lit("keep")).alias("disposition"),
    )


@query(
    "q_text_jsd",
    oracle="""
    WITH cnt AS (
      SELECT source, tok, count(*) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY source, tok
    ),
    tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY source),
    p AS (
      SELECT cnt.source, tok, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
      FROM cnt JOIN tot ON cnt.source = tot.source
    ),
    h AS (
      SELECT source, -sum(p * ln(p)) AS h FROM p GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    m AS (
      SELECT pr.src_a, pr.src_b, p.tok, sum(p.p * 0.5) AS mp
      FROM pairs pr
      JOIN p ON p.source = pr.src_a OR p.source = pr.src_b
      GROUP BY pr.src_a, pr.src_b, p.tok
    ),
    hm AS (
      SELECT src_a, src_b, -sum(mp * ln(mp)) AS h_m
      FROM m GROUP BY src_a, src_b
    )
    SELECT hm.src_a, hm.src_b,
           round(h_m - 0.5 * ha.h - 0.5 * hb.h, 6) AS jsd
    FROM hm
    JOIN h ha ON ha.source = hm.src_a
    JOIN h hb ON hb.source = hm.src_b
    """,
)
def q_text_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of source token
    distributions — the SYMMETRIC, always-finite drift measure
    (bounded [0, ln 2]) that complements q_text_kl's directed
    lang-vs-corpus form: pairwise JSD is what clusters corpus slices,
    flags an off-distribution crawl batch, and weighs mixture rebalance
    decisions.

    Computed via the entropy identity JSD(P,Q) = H(M) − (H(P)+H(Q))/2
    with M = (P+Q)/2, which needs NO per-pair full-outer vocabulary
    join: the mixture frame is ONE join of the |vocab|-sized prob table
    onto the |sources|² pair list plus a (pair, tok) re-aggregate —
    absent-token terms contribute exactly their half-weight mass
    through M and vanish from H(P)/H(Q), so the zero-handling that
    plagues direct KL forms never arises. Everything after the single
    corpus scan is vocabulary-scale; per-term probs are exact int64
    ratios, and the three entropy sums follow the module's 6 dp
    grouped-double-sum convention.
    """
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    tot = cnt.groupBy("source").agg(F.sum("n").alias("t"))
    p = cnt.join(F.broadcast(tot), "source").select(
        "source", "tok", (F.col("n").cast("double") / F.col("t").cast("double")).alias("p")
    )
    h = p.groupBy("source").agg((-F.sum(F.col("p") * F.log("p"))).alias("h"))
    ta = tot.select(F.col("source").alias("src_a"))
    tb = tot.select(F.col("source").alias("src_b"))
    pairs = ta.crossJoin(tb).where(F.col("src_a") < F.col("src_b"))
    m = (
        p.join(
            F.broadcast(pairs),
            (F.col("source") == F.col("src_a")) | (F.col("source") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "tok")
        .agg(F.sum(F.col("p") * 0.5).alias("mp"))
    )
    hm = m.groupBy("src_a", "src_b").agg(
        (-F.sum(F.col("mp") * F.log("mp"))).alias("h_m")
    )
    ha = h.select(F.col("source").alias("src_a"), F.col("h").alias("ha"))
    hb = h.select(F.col("source").alias("src_b"), F.col("h").alias("hb"))
    return (
        hm.join(F.broadcast(ha), "src_a")
        .join(F.broadcast(hb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("h_m") - 0.5 * F.col("ha") - 0.5 * F.col("hb"), 6
            ).alias("jsd"),
        )
    )


@query(
    "q_corpus_report",
    oracle="""
    WITH g0 AS (
      SELECT source, lang, text,
             count(*) AS cnt,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents
      GROUP BY source, lang, text
    ),
    g1 AS (
      SELECT source, lang,
             CAST(sum(cnt) AS BIGINT)  AS n_docs,
             CAST(count(*) AS BIGINT)  AS n_unique,
             CAST(sum(toks) AS BIGINT) AS toks,
             CAST(sum(chars) AS BIGINT) AS chars
      FROM g0 GROUP BY source, lang
    )
    SELECT source,
           CAST(sum(n_docs) AS BIGINT)  AS n_docs,
           CAST(sum(toks) AS BIGINT)    AS total_tokens,
           round(sum(chars) / CAST(sum(n_docs) AS DOUBLE), 6) AS avg_chars,
           CAST(count(*) AS BIGINT)     AS n_langs,
           round(-sum((n_docs / CAST(tot.t AS DOUBLE))
                      * ln(n_docs / CAST(tot.t AS DOUBLE))), 6) + 0.0
               AS lang_entropy,
           round(1.0 - sum(n_unique) / CAST(sum(n_docs) AS DOUBLE), 6)
               AS dup_rate
    FROM g1
    JOIN (SELECT source AS s, CAST(sum(n_docs) AS BIGINT) AS t
          FROM g1 GROUP BY source) tot ON g1.source = tot.s
    GROUP BY source
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the one-page summary a data-
    curation team reads before admitting a source into the training mix:
    document and token volume, mean document length, language spread
    (count + entropy of the language distribution), and the within-
    (source, lang) exact-duplicate rate. Blocking dedup by (lang,
    source) is the house convention (q_dedup_exact), so "duplicate"
    here means the same text inside one block — the fraction the ingest
    screen (q_dedup_incremental) would actually drop.

    Shape: ONE corpus scan into a cascade of shrinking hash aggregates —
    (source, lang, text) -> (source, lang) -> (source). The first
    aggregate keys on the full text exactly like q_dedup_exact (that IS
    the distinct-text count; partial+final combine dedups map-side), and
    every later stage is metadata-scale: |source x lang| then |source|
    rows. Token counts come from size(split(..)) per row — an int per
    document, no explode, so the heavy shuffle carries one row per
    DISTINCT (source, lang, text), never per token. All integer sums are
    exact int64; the two double divisions (mean chars, entropy) round at
    6 dp per the module's float-fold discipline, with the entropy sum's
    signed zero normalized (+ 0.0) for the single-language case where
    -sum(1 * ln 1) = -0.0 on one engine and +0.0 on the other.
    """
    d = table(spark, sf_dir, "documents")
    g0 = (
        d.select(
            "source",
            "lang",
            "text",
            F.size(F.split("text", " ")).alias("ntok"),
            F.col("n_chars"),
        )
        .groupBy("source", "lang", "text")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("ntok").alias("toks"),
            F.sum("n_chars").alias("chars"),
        )
    )
    # |source x lang| rows: the sanctioned localCheckpoint barrier
    # (q_text_kl pattern) — without it the per-source total branch
    # re-derives g1 and the corpus is scanned twice.
    g1 = g0.groupBy("source", "lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.sum("toks").alias("toks"),
        F.sum("chars").alias("chars"),
    ).localCheckpoint()
    tot = g1.groupBy("source").agg(F.sum("n_docs").alias("t"))
    p = F.col("n_docs") / F.col("t").cast("double")
    return (
        g1.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.round(
                F.sum("chars") / F.sum("n_docs").cast("double"), 6
            ).alias("avg_chars"),
            F.count("*").alias("n_langs"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("lang_entropy"),
            F.round(
                F.lit(1.0) - F.sum("n_unique") / F.sum("n_docs").cast("double"), 6
            ).alias("dup_rate"),
        )
    )
