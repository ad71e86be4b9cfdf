"""Group J — text analysis for training-data pipelines (SURVEY.md §2.J).

All operators are pure builtin-expression pipelines (split/explode/
higher-order functions) — they stay inside whole-stage codegen and scale
linearly: tokenize is per-row; term statistics shuffle once on the group
key (lang/source/token).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_etl_spark.checkpoints import free_local_checkpoint
from data_pipeline_etl_spark.operators.materialized import artifact
from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import fanout, table

def _toks():
    return F.split("text", " ")


@query(
    "q_text_topterms",
    oracle="""
    WITH freq AS (
      SELECT lang, tok, count(*) AS n
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY lang, tok
    )
    SELECT lang, tok, n, rn FROM (
      SELECT lang, tok, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
      FROM freq
    ) WHERE rn <= 3
    """,
)
def q_text_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per language by frequency (tiebreak token asc)."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(_toks()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("lang", "tok", "n", "rn")
    )


@query(
    "q_text_stats",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
           round(avg(len(regexp_extract_all(text, '[a-z]+'))), 6) AS avg_re_tokens
    FROM documents
    GROUP BY source
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats: doc count, char/token averages.

    Token counting both ways: whitespace split and a regex tokenizer
    (the BPE-ish pre-tokenization pattern, engine-neutral subset).
    """
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(_toks())), 6).alias("avg_tokens"),
        F.round(F.avg(F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)"))), 6).alias(
            "avg_re_tokens"
        ),
    )


@query(
    "q_text_search",
    oracle="""
    SELECT doc_id, lang,
           len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS hits
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), w -> w = 'spark')) > 0
    """,
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search: occurrence count of 'spark' per matching document."""
    d = table(spark, sf_dir, "documents")
    hits = F.size(F.filter(_toks(), lambda w: w == F.lit("spark"))).cast("long")
    return d.select("doc_id", "lang", hits.alias("hits")).where(F.col("hits") > 0)


# Deterministic per-"language" marker lists over the fixture vocabulary.
# Real corpora would use character n-gram profiles; the fixture text is
# synthetic English-ish tokens for every lang, so this demonstrates the
# *mechanism* (vote per marker list, argmax with tiebreak) — which is the
# part that has to scale (one explode + conditional aggregation).
_MARKERS = {
    "en": ("the", "a", "fast"),
    "de": ("table", "scan", "merge"),
    "es": ("data", "row", "column"),
    "fr": ("query", "filter", "join"),
    "zh": ("spark", "stream", "batch"),
}


def _langid_cases_sql() -> str:
    scores = ",\n           ".join(
        "sum(CASE WHEN tok IN ({}) THEN 1 ELSE 0 END) AS score_{}".format(
            ", ".join(f"'{t}'" for t in toks), lang
        )
        for lang, toks in _MARKERS.items()
    )
    return scores


@query(
    "q_text_langid",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id,
           {_langid_cases_sql()}
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id
    ),
    unp AS (
      SELECT doc_id, lang, score FROM (
        SELECT doc_id, 'en' AS lang, score_en AS score FROM scores
        UNION ALL SELECT doc_id, 'de', score_de FROM scores
        UNION ALL SELECT doc_id, 'es', score_es FROM scores
        UNION ALL SELECT doc_id, 'fr', score_fr FROM scores
        UNION ALL SELECT doc_id, 'zh', score_zh FROM scores
      )
    )
    SELECT doc_id, lang AS lang_guess, CAST(score AS BIGINT) AS score
    FROM (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      FROM unp
    ) WHERE rn = 1
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: argmax of per-language marker hits."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    scores = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok").isin(*markers), 1).otherwise(0)).alias(f"score_{lang}")
            for lang, markers in _MARKERS.items()
        ]
    )
    # stack() unpivots in ONE generate pass over the aggregate output —
    # a per-language unionByName would re-plan (and without exchange
    # reuse, re-run) the score aggregate once per language
    stack_args = ", ".join(f"'{lang}', score_{lang}" for lang in _MARKERS)
    unp = scores.select(
        "doc_id", F.expr(f"stack({len(_MARKERS)}, {stack_args}) AS (lang, score)")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        unp.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("lang_guess"), F.col("score").cast("long").alias("score"))
    )


@query(
    "q_text_oov_rate",
    oracle="""
    WITH tr AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 0
    ),
    per AS (
      SELECT source, tok, count(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % 2 = 1)
      GROUP BY source, tok
    ),
    j AS (
      SELECT p.source, p.c, tr.tok IS NOT NULL AS known
      FROM per p LEFT JOIN tr ON p.tok = tr.tok
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN NOT known THEN c ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN NOT known THEN c ELSE 0 END)
                 / CAST(sum(c) AS DOUBLE), 6) AS oov_rate,
           CAST(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov_types
    FROM j GROUP BY source
    """,
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out vocabulary coverage: split the corpus by doc_id parity
    (even = train, odd = validation), build the train vocabulary, and
    report per-source OOV token counts / rate / distinct OOV types on
    the validation half — the coverage check run before freezing a
    tokenizer or unigram LM (q_text_novelty screens within-source
    trigram memorization; this measures cross-split lexical coverage).

    Scale shape: the validation side is pre-aggregated to (source, tok)
    counts BEFORE the vocabulary join, so the token-keyed equi-join
    carries |types| rows, never the raw token stream, and head-token
    skew is already collapsed; the train side is one explode +
    distinct. All counts are exact integers summed per source with one
    6-dp ratio at the end — no float folds."""
    d = table(spark, sf_dir, "documents")
    tr = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(F.explode(_toks()).alias("tok"))
        .distinct()
        .withColumn("known", F.lit(1))
    )
    per = (
        d.where(F.col("doc_id") % 2 == 1)
        .select("source", F.explode(_toks()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    j = per.join(tr, "tok", "left")
    oov_c = F.when(F.col("known").isNull(), F.col("c")).otherwise(F.lit(0))
    return j.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(oov_c).alias("n_oov"),
        F.round(F.sum(oov_c) / F.sum("c").cast("double"), 6).alias("oov_rate"),
        F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)).alias("n_oov_types"),
    )


@query(
    "q_quality_gopher",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_dist,
             n_chars,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['the', 'a', 'value', 'table'])) AS n_stop
      FROM documents
    ),
    mx AS (
      SELECT doc_id, max(c) AS maxc FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    ),
    rules AS (
      SELECT b.lang, b.source,
             CASE WHEN b.n_tok BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN b.n_dist / CAST(b.n_tok AS DOUBLE) >= 0.4
                  THEN 1 ELSE 0 END AS r_ttr,
             CASE WHEN (b.n_chars - b.n_tok + 1) / CAST(b.n_tok AS DOUBLE)
                       BETWEEN 4.0 AND 5.0
                  THEN 1 ELSE 0 END AS r_wl,
             CASE WHEN b.n_stop >= 2 THEN 1 ELSE 0 END AS r_stop,
             CASE WHEN m.maxc / CAST(b.n_tok AS DOUBLE) <= 0.12
                  THEN 1 ELSE 0 END AS r_rep
      FROM base b JOIN mx m ON b.doc_id = m.doc_id
    )
    SELECT lang, source, count(*) AS n_docs,
           round(sum(r_len) / CAST(count(*) AS DOUBLE), 6) AS r_len_rate,
           round(sum(r_ttr) / CAST(count(*) AS DOUBLE), 6) AS r_ttr_rate,
           round(sum(r_wl) / CAST(count(*) AS DOUBLE), 6) AS r_wl_rate,
           round(sum(r_stop) / CAST(count(*) AS DOUBLE), 6) AS r_stop_rate,
           round(sum(r_rep) / CAST(count(*) AS DOUBLE), 6) AS r_rep_rate,
           round(sum(r_len * r_ttr * r_wl * r_stop * r_rep)
                 / CAST(count(*) AS DOUBLE), 6) AS pass_all_rate
    FROM rules GROUP BY lang, source
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style filter-rule PANEL: per-(lang, source) pass rates
    for five document-quality rules plus the conjunctive yield — the
    report a curation team reads before committing a filter config,
    where q_text_quality emits raw per-doc signals this emits the
    policy-level decision rates. Rules (thresholds placed inside the
    fixture's measured distribution so every rule discriminates):
    token count in [20, 80]; type-token ratio >= 0.4; mean word length
    in [4.0, 5.0] (derived EXACTLY from the single-space layout as
    (n_chars - n_tok + 1) / n_tok — no second tokenize pass); >= 2
    distinct stopwords from a 4-word list; most-frequent-token share
    <= 0.12 (the repetition screen).

    Scale shape: one corpus scan computes every per-row signal with
    array builtins (no UDF, all codegen); the repetition signal is the
    only one needing an explode, and it aggregates (doc, tok) -> max
    count in TWO levels (never a countDistinct expansion), producing a
    |docs|-row frame joined back on doc_id. The final aggregate is
    |lang x source| rows. Rule indicators sum as exact integers and
    divide once per rate (6 dp) — no float folds. Threshold compares
    are on IEEE-identical doubles (same integer ratios both engines),
    so boundary docs grade identically."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_toks())
    stop_list = F.array(*[F.lit(w) for w in ("the", "a", "value", "table")])
    base = d.select(
        "doc_id",
        "lang",
        "source",
        n_tok.cast("long").alias("n_tok"),
        F.size(F.array_distinct(_toks())).cast("long").alias("n_dist"),
        F.col("n_chars"),
        F.size(F.array_intersect(F.array_distinct(_toks()), stop_list))
        .cast("long")
        .alias("n_stop"),
    )
    mx = (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("maxc"))
    )
    flag = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    rules = base.join(mx, "doc_id").select(
        "lang",
        "source",
        flag(F.col("n_tok").between(20, 80)).alias("r_len"),
        flag(F.col("n_dist") / F.col("n_tok").cast("double") >= 0.4).alias("r_ttr"),
        flag(
            (
                (F.col("n_chars") - F.col("n_tok") + 1)
                / F.col("n_tok").cast("double")
            ).between(4.0, 5.0)
        ).alias("r_wl"),
        flag(F.col("n_stop") >= 2).alias("r_stop"),
        flag(F.col("maxc") / F.col("n_tok").cast("double") <= 0.12).alias("r_rep"),
    )
    rate = lambda c: F.round(  # noqa: E731
        F.sum(c).cast("double") / F.count("*"), 6
    )
    return rules.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        rate(F.col("r_len")).alias("r_len_rate"),
        rate(F.col("r_ttr")).alias("r_ttr_rate"),
        rate(F.col("r_wl")).alias("r_wl_rate"),
        rate(F.col("r_stop")).alias("r_stop_rate"),
        rate(F.col("r_rep")).alias("r_rep_rate"),
        rate(
            F.col("r_len") * F.col("r_ttr") * F.col("r_wl") * F.col("r_stop")
            * F.col("r_rep")
        ).alias("pass_all_rate"),
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT doc_id,
           n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' ')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS type_token_ratio,
           round(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: type/token ratio, stopword ratio, token length."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_toks())
    stop_hits = F.size(F.filter(_toks(), lambda w: w.isin("the", "a")))
    return d.select(
        "doc_id",
        "n_chars",
        n_tok.cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(_toks())) / n_tok.cast("double"), 6).alias(
            "type_token_ratio"
        ),
        F.round(stop_hits / n_tok.cast("double"), 6).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("avg_token_len"),
    )


@query(
    "q_text_charngrams",
    oracle="""
    WITH grams AS (
      SELECT lang, substring(text, pos, 3) AS gram
      FROM (SELECT lang, text,
                   unnest(generate_series(1, greatest(1, length(text) - 2))) AS pos
            FROM documents)
    ),
    freq AS (
      SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram
    )
    SELECT lang, gram, n, CAST(rn AS BIGINT) AS rn FROM (
      SELECT lang, gram, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rn
      FROM freq
    ) WHERE rn <= 5
    """,
)
def q_text_charngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 character trigrams per language — the n-gram profile that
    production language-ID ranks against (q_text_langid demonstrates the
    vote/argmax mechanism; this builds the profiles).

    Per-row position explode (linear in corpus characters, no join) into
    a (lang, gram) hash aggregate whose state is profile-sized, then a
    top-k window over the tiny aggregate. Same shape at 100 TB: the
    explode is map-side, the shuffle carries |langs|×|grams| partial
    counts, never raw text.

    r17: input fanned out — the per-character explode otherwise
    serializes on the one-row-group local fixture (measured 1.56 →
    0.50 s warm at sf0.1; no-op on multi-split cluster layouts).
    """
    from pyspark.sql import Window

    d = fanout(table(spark, sf_dir, "documents"))
    grams = d.select(
        "lang",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - 2))
        ).alias("pos"),
    ).select("lang", F.expr("substring(text, pos, 3)").alias("gram"))
    freq = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("lang", "gram", "n", "rn")
    )


# Winnowing (MOSS-style) fingerprint parameters: k-char shingles, window w.
_WINNOW_K = 8
_WINNOW_W = 4


def winnow_fp_arrays(d: DataFrame, k: int = _WINNOW_K, w: int = _WINNOW_W) -> DataFrame:
    """``(doc_id, fps)`` — winnowing fingerprints of ``text`` as a
    deduplicated array column, all-array-native.

    Shingle hashes, per-position window-mins, and the dedup run inside
    higher-order expressions on each row — zero row explosion, zero
    shuffle. (The previous explode+window formulation multiplied rows
    |text|× and shuffled on doc_id just to window-sort; this is a pure
    map-side two-step projection.) The shingle-hash array materializes
    ONCE per row in the first select — the window-min lambda only
    slices it, so the md5 count stays linear in |text|, not quadratic.
    slice() truncates at the tail exactly like ROWS BETWEEN CURRENT ROW
    AND w-1 FOLLOWING, so selected fingerprints are identical.
    """
    hashes = d.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(1, length(text) - {k - 1})), "
            f"p -> md5(substring(text, p, {k})))"
        ).alias("hs"),
    )
    return hashes.select(
        "doc_id",
        F.expr(
            f"array_distinct(transform(sequence(1, size(hs)), "
            f"i -> array_min(slice(hs, i, {w}))))"
        ).alias("fps"),
    )


def winnow_fingerprints(d: DataFrame, k: int = _WINNOW_K, w: int = _WINNOW_W) -> DataFrame:
    """Selected winnowing fingerprints ``(doc_id, h)`` for a frame with
    (doc_id, text): k-char shingle hashes, window-min of w, deduplicated.
    Guarantee (Schleimer et al.): two texts sharing a substring of length
    >= k + w - 1 share at least one fingerprint (tests/test_properties.py
    pins this on generated inputs)."""
    return winnow_fp_arrays(d, k, w).select("doc_id", F.explode("fps").alias("h"))


@query(
    "q_text_winnow",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(1, length(text) - {_WINNOW_K - 1}))) AS pos
      FROM documents
    ),
    hashes AS (
      SELECT doc_id, pos, md5(substring(text, pos, {_WINNOW_K})) AS h FROM pos
    ),
    sel AS (
      SELECT DISTINCT doc_id, wmin AS h FROM (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS wmin
        FROM hashes
      )
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           md5(array_to_string(list(h ORDER BY h), '')) AS fp_digest
    FROM sel GROUP BY doc_id
    """,
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: rolling k-char-shingle hashes,
    one selected (window-min) per w-window, deduplicated per document.

    The MOSS fingerprinting scheme — guarantees any shared substring of
    length >= k+w-1 yields a shared fingerprint, while storing ~2/(w+1)
    of the shingle hashes.
    Emitted as count + digest-of-sorted-fingerprints so the output stays
    scalar and hash-checkable; the fingerprint *set* itself would feed an
    inverted-index join exactly like _inverted_index_jaccard at scale.
    The fingerprint set is built as an array per row (winnow_fp_arrays),
    so count and digest are per-row expressions — no explode, no groupBy,
    no hash exchange anywhere in the plan (the only exchange is the
    fanout() round-robin parallelism floor, absent at cluster scale).
    """
    # per-char md5 folds dominate: parallelize the scan (measured -2.9 s
    # at sf0.1 vs a single-task single-row-group scan; no-op on clusters)
    d = fanout(table(spark, sf_dir, "documents"))
    sel = winnow_fp_arrays(d)
    return sel.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.md5(F.array_join(F.array_sort("fps"), "")).alias("fp_digest"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed IDF, ln).

    Three hash aggregates + one broadcast-able df join — the classic
    text-featurization pipeline, all codegen. IDF values are per-row
    deterministic (single ln per token); rounding at 6 dp covers libm.
    The corpus size joins in as a broadcast 1-row aggregate (same shape as
    q_embed_quantize's bounds) — no driver-side count(), one job total.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("doc_id", "tok", "tfidf", "rn")
    )


@query(
    "q_text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ),
    total AS (SELECT sum(n) AS total_toks FROM vocab)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(sum(ln(v.n / CAST(tt.total_toks AS DOUBLE))), 4) AS logprob,
           round(sum(ln(v.n / CAST(tt.total_toks AS DOUBLE))) / count(*), 6)
             AS avg_logprob
    FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN total tt
    GROUP BY t.doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: per-doc sum and mean of
    ln P(token) under the corpus unigram distribution — the classic
    cheap perplexity proxy for quality filtering (garbage text scores
    far from the corpus mode).

    Two tiny aggregates (vocabulary counts, corpus total) broadcast back
    onto the exploded token stream, then one per-doc aggregate — the
    same two-pass broadcast shape as q_anomaly_zscore. The vocabulary is
    the only global state (|vocab| rows, not |corpus|). Summed ln terms
    are all-negative (no cancellation), so 4-dp rounding of the sum and
    6-dp of the mean hash identically across engines.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = vocab.agg(F.sum("n").alias("total_toks"))
    lp = F.log(F.col("n") / F.col("total_toks").cast("double"))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lp), 4).alias("logprob"),
            F.round(F.sum(lp) / F.count("*"), 6).alias("avg_logprob"),
        )
    )


# GPT-2-style pre-tokenizer pattern (no lookarounds, so Java regex and
# RE2 agree): contraction suffixes, space-prefixed letter/digit runs,
# space-prefixed punctuation runs, whitespace runs.
_BPE_PAT = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


@query(
    "q_text_token_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}')) AS BIGINT)
             AS n_bpe_tokens,
           round(len(regexp_extract_all(text, '{_BPE_PAT.replace("'", "''")}'))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS bpe_per_ws
    FROM documents
    """,
)
def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex (GPT-2's word/
    digit/punctuation/contraction split, sans lookarounds) next to the
    whitespace count — the budget estimator for training-data token
    accounting, where whitespace counts undercount code/punctuation-heavy
    text.

    Pure per-row projection (two regex scans per doc, no shuffle); the
    pattern deliberately avoids lookarounds so Java regex (Spark) and RE2
    (DuckDB) tokenize identically. Token RATE, not just count, feeds
    mixture weighting: bpe_per_ws ≈ 1.3 for prose, >2 for code.
    """
    d = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
    ws = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.round(F.size(bpe) / F.size(ws).cast("double"), 4).alias("bpe_per_ws"),
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH bi AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1]) AS bgs
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 2
    ),
    cnt AS (
      SELECT doc_id, bg, count(*) AS c
      FROM (SELECT doc_id, unnest(bgs) AS bg FROM bi)
      GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_frac,
           round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter (the Gopher/MassiveText family): per-doc
    duplicate-bigram fraction and most-frequent-bigram mass. High values
    flag boilerplate-heavy or degenerate (looping) documents that survive
    length/stopword filters — the standard pre-training screen next to
    type_token_ratio (q_text_quality, which is unigram-level).

    Shape: per-row bigram expansion via a higher-order transform (no
    Python), one shuffle into (doc_id, bigram) with map-side partial
    counts, one shuffle back to doc_id. Both aggregations key on doc_id
    so cardinality tracks the corpus, never vocabulary²; a doc with <2
    tokens has no bigrams and drops out on both engines (sequence() in
    Spark would otherwise count DOWN from 1 to 0 — the >= 2 guard is
    semantic on one engine and a correctness requirement on the other).

    r17: input fanned out — the per-row bigram transform otherwise
    serializes on the one-row-group local fixture (measured 1.41× warm
    at sf0.1; no-op on multi-split cluster layouts).
    """
    d = fanout(table(spark, sf_dir, "documents"))
    # materialize the token array once per row — inlining split(text) into
    # the lambda re-evaluates it per element_at (O(tokens²) per doc)
    bi = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    cnt = bi.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(F.lit(1.0) - F.count("*") / F.sum("c").cast("double"), 6).alias(
            "dup_bigram_frac"
        ),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_bigram_frac"),
    )


# PII scrub patterns — engine-neutral regex subset (identical semantics
# in Java regex and RE2): plain char classes, bounded repetition, no
# lookaround, trailing '-' literal inside classes.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"555-[0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


@query(
    "q_text_pii",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             substring(text, 1, 40)
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@' || source || '.example'
                     ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 5 <> 0
                     THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                     ELSE '' END AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS BIGINT) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g') AS clean
    FROM seeded
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and scrub emails / phone numbers /
    IPv4 addresses with engine-neutral regexes.

    The fixture text carries no PII, so each row deterministically seeds
    synthetic PII from its own keys (doc_id mod-classes vary which kinds
    appear, exercising the zero-match path too), then the scrub runs
    over the combined string — the mechanism under test is the regex
    detect/redact pipeline itself, exactly as it would run over a real
    crawl.

    Scale shape: pure per-row projection (regexp_extract_all +
    regexp_replace are codegen'd JVM expressions) — no shuffle, no UDF,
    trivially linear; redaction cost is independent of corpus size and
    the plan is a single WholeStageCodegen scan at any SF.
    """
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example"),
    )
    phone = F.concat(
        F.lit(" tel 555-"), F.lpad((did % 10000).cast("string"), 4, "0")
    )
    ip = F.concat(
        F.lit(" host 10."),
        (did % 256).cast("string"),
        F.lit(".0."),
        ((did * 7) % 256).cast("string"),
    )
    raw = F.concat(
        F.substring("text", 1, 40),
        F.when(did % 3 == 0, email).otherwise(F.lit("")),
        F.when(did % 2 == 0, phone).otherwise(F.lit("")),
        F.when(did % 5 != 0, ip).otherwise(F.lit("")),
    )
    seeded = d.select("doc_id", raw.alias("raw"))
    def _count(pat):
        return F.size(
            F.regexp_extract_all(F.col("raw"), F.lit(pat), F.lit(0))
        ).cast("long")

    return seeded.select(
        "doc_id",
        _count(_PII_EMAIL).alias("n_emails"),
        _count(_PII_PHONE).alias("n_phones"),
        _count(_PII_IP).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ),
            _PII_IP,
            "<IP>",
        ).alias("clean"),
    )


_BP_CHUNK = 16  # token chunk width for boilerplate detection
_BP_MIN_DOCS = 3  # a chunk in >= this many distinct docs is boilerplate


@query(
    "q_text_boilerplate",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, c.chunk_id AS chunk_id,
             array_to_string(
               list_slice(string_split(text, ' '),
                          c.chunk_id * {_BP_CHUNK} + 1,
                          c.chunk_id * {_BP_CHUNK} + {_BP_CHUNK}), ' ') AS chunk
      FROM (SELECT doc_id, text, len(string_split(text, ' ')) AS n FROM documents),
           unnest(generate_series(0, CAST(floor((n - 1) / {_BP_CHUNK}) AS INT)))
             AS c(chunk_id)
    ),
    boiler AS (
      SELECT chunk FROM (
        SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk
      ) WHERE nd >= {_BP_MIN_DOCS}
    ),
    kept AS (
      SELECT * FROM chunks WHERE chunk NOT IN (SELECT chunk FROM boiler)
    ),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT k.doc_id,
           count(*) AS n_kept,
           t.n_chunks - count(*) AS n_removed,
           md5(string_agg(k.chunk, ' ' ORDER BY k.chunk_id)) AS clean_md5
    FROM kept k JOIN tot t USING (doc_id)
    GROUP BY k.doc_id, t.n_chunks
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (CCNet-style, chunk granularity): drop every
    16-token chunk that appears in >= 3 distinct documents, and emit the
    cleaned document as kept-chunk counts + a digest of the rejoined
    text (chunks rejoin in chunk order, so a doc with nothing removed
    digests to its own token stream).

    Scale shape: chunking is a linear explode; the boilerplate set is a
    two-level aggregate ((chunk, doc) dedup, then per-chunk doc count —
    never a countDistinct expansion); removal is a left-anti join of
    chunks against the (frequency-bounded, tiny) boilerplate set; the
    rebuild is one per-doc aggregate over struct-sorted chunks. Group
    keys here are raw chunk strings so the oracle semantics are mirrored
    exactly; at corpus scale the anti-join/grouping key becomes the
    chunk digest (16-byte, uniform) exactly as in q_dedup_chunkdup.
    Docs that are 100% boilerplate drop out of the anti-join on both
    engines — the output IS the surviving corpus.
    """
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    chunked = d.select(
        "doc_id",
        t.alias("t"),
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size(t) - 1) / _BP_CHUNK).cast("int"))
        ).alias("chunk_id"),
    )
    piece = F.slice("t", F.col("chunk_id") * _BP_CHUNK + 1, _BP_CHUNK)
    chunks = chunked.select(
        "doc_id", "chunk_id", F.array_join(piece, " ").alias("chunk")
    )
    boiler = (
        chunks.select("chunk", "doc_id")
        .distinct()
        .groupBy("chunk")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= _BP_MIN_DOCS)
        .select("chunk")
    )
    kept = chunks.join(boiler, "chunk", "left_anti")
    tot = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                    lambda x: x["chunk"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    return rebuilt.join(tot, "doc_id").select(
        "doc_id",
        "n_kept",
        (F.col("n_chunks") - F.col("n_kept")).alias("n_removed"),
        "clean_md5",
    )


@query(
    "q_text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[g.i] AS a, t[g.i + 1] AS b
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    cnt AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY a, b),
    ctx AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM cnt GROUP BY a)
    SELECT g.doc_id, count(*) AS n_bigrams,
           round(sum(ln(c.n_ab / CAST(x.n_a AS DOUBLE))), 4) AS logprob,
           round(sum(ln(c.n_ab / CAST(x.n_a AS DOUBLE))) / count(*), 6)
             AS avg_logprob
    FROM bg g
    JOIN cnt c ON g.a = c.a AND g.b = c.b
    JOIN ctx x ON g.a = x.a
    GROUP BY g.doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring: per-doc sum/mean of
    ln P(w_i | w_{i-1}) under the corpus MLE bigram model — the
    next-order quality signal after q_text_unigram_logprob: a
    word-salad document shares the corpus's unigrams but not its
    transitions, so the conditional score separates fluent text from
    shuffled text that the unigram model cannot tell apart.

    Bigrams are generated MAP-SIDE from the token array (element_at
    over an index sequence — no posexplode + lead window, so no
    doc_id shuffle just to pair neighbors; single-token docs guard to
    an empty array because Spark's sequence(1, 0) is DESCENDING, not
    empty). The model is two aggregates — (a, b) transition counts and
    their per-context sums, both |bigram-vocab|-bounded — joined back
    onto the bigram stream WITHOUT a broadcast hint: a corpus-scale
    bigram vocabulary is quadratically larger than the unigram one and
    must be allowed to shuffle-join (AQE still broadcasts when the
    runtime size fits, which it does at fixture scale). Every doc
    bigram exists in the model by construction, so P > 0 and no
    smoothing is needed; summed ln terms are all-negative (no
    cancellation), so 4 dp on the sum / 6 dp on the mean hash
    identically across engines, exactly as the unigram op documents.
    """
    return bigram_logprob_for(table(spark, sf_dir, "documents"))


def bigram_logprob_for(d: DataFrame) -> DataFrame:
    """Body of :func:`q_text_bigram_logprob` over any (doc_id, text)
    frame — split out so the scaling probe feeds replicated corpora
    through the identical plan."""
    bg = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), i -> "
                    "struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                    "ELSE array() END"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
    )
    cnt = bg.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    ctx = cnt.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    lp = F.log(F.col("n_ab") / F.col("n_a").cast("double"))
    return (
        bg.join(cnt, ["a", "b"])
        .join(ctx, "a")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(lp), 4).alias("logprob"),
            F.round(F.sum(lp) / F.count("*"), 6).alias("avg_logprob"),
        )
    )


@query(
    "q_text_hashtf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    bucketed AS (
      SELECT doc_id,
             CASE WHEN substring(md5(tok), 1, 1) BETWEEN 'a' AND 'f'
                  THEN ascii(substring(md5(tok), 1, 1)) - 87
                  ELSE ascii(substring(md5(tok), 1, 1)) - 48 END AS b
      FROM tok
    )
    SELECT doc_id,
           concat_ws(',',
            count(CASE WHEN b = 0 THEN 1 END),  count(CASE WHEN b = 1 THEN 1 END),
            count(CASE WHEN b = 2 THEN 1 END),  count(CASE WHEN b = 3 THEN 1 END),
            count(CASE WHEN b = 4 THEN 1 END),  count(CASE WHEN b = 5 THEN 1 END),
            count(CASE WHEN b = 6 THEN 1 END),  count(CASE WHEN b = 7 THEN 1 END),
            count(CASE WHEN b = 8 THEN 1 END),  count(CASE WHEN b = 9 THEN 1 END),
            count(CASE WHEN b = 10 THEN 1 END), count(CASE WHEN b = 11 THEN 1 END),
            count(CASE WHEN b = 12 THEN 1 END), count(CASE WHEN b = 13 THEN 1 END),
            count(CASE WHEN b = 14 THEN 1 END), count(CASE WHEN b = 15 THEN 1 END)
           ) AS tf_hashed,
           count(*) AS n_tokens
    FROM bucketed GROUP BY doc_id
    """,
)
def q_text_hashtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): each document becomes a
    fixed-width 16-bucket term-frequency vector with bucket =
    hash(token) — the vocabulary-free featurizer that feeds linear
    classifiers/regressors at corpus scale, where a fitted vocabulary
    (q_text_tfidf's document-frequency join) would itself be a giant
    shuffle + dictionary to ship.

    Bucket assignment is the first hex digit of md5(token) (16 buckets
    exactly) — the repo's cross-engine stable hash bridge (cf.
    q_sample_hash), since native hash() differs across engines. The
    aggregation is ONE groupBy(doc_id) with 16 conditional counts
    assembled into the (comma-joined — driver canonicalizer takes
    scalars only) vector engine-side — no pivot, no per-bucket
    join, no second pass for zero-fill; partial aggregation combines
    map-side so the single shuffle carries 16 longs per doc. Widening
    to 2^18 buckets at scale swaps the conditional-count fan-out for a
    (doc_id, bucket) groupBy + engine-side sparse assembly
    (collect_list of (bucket, count) structs) — same single-shuffle
    plan shape.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_toks()).alias("tok"))
    hexd = F.substring(F.md5("tok"), 1, 1)
    b = F.when(
        hexd.between("a", "f"), F.ascii(hexd) - 87
    ).otherwise(F.ascii(hexd) - 48)
    g = tok.withColumn("b", b).groupBy("doc_id").agg(
        *[F.count(F.when(F.col("b") == k, 1)).alias(f"h{k}") for k in range(16)],
        F.count("*").alias("n_tokens"),
    )
    return g.select(
        "doc_id",
        F.concat_ws(",", *[f"h{k}" for k in range(16)]).alias("tf_hashed"),
        "n_tokens",
    )


@query(
    "q_text_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT t[g.i] AS a, t[g.i + 1] AS b
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      UNION ALL
      SELECT t[g.i] AS a, t[g.i + 2] AS b
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
    ),
    cnt AS (SELECT a, b, count(*) AS n_ab FROM pairs GROUP BY a, b),
    np AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM pairs),
    uni AS (
      SELECT tok, count(*) AS n_w
      FROM (SELECT unnest(t) AS tok FROM toks)
      GROUP BY tok
    ),
    nt AS (SELECT CAST(sum(n_w) AS DOUBLE) AS nt FROM uni)
    SELECT cnt.a, cnt.b, n_ab,
           round(ln((CAST(n_ab AS DOUBLE) / np)
                    / ((CAST(ua.n_w AS DOUBLE) / nt)
                       * (CAST(ub.n_w AS DOUBLE) / nt))), 6) AS pmi
    FROM cnt
    JOIN uni ua ON ua.tok = cnt.a
    JOIN uni ub ON ub.tok = cnt.b
    CROSS JOIN np CROSS JOIN nt
    WHERE n_ab >= 5
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over ±2-position skip-grams —
    pmi(a,b) = ln(p(a,b) / (p(a)·p(b))) — the word-association statistic
    that seeds collocation lists, phrase mining, and embedding-era
    co-occurrence matrices (it is the implicit objective SGNS
    factorizes, Levy & Goldberg 2014).

    Context pairs are generated MAP-SIDE from the token array (two
    element_at index sequences, distance 1 and 2 — the
    q_text_bigram_logprob idiom; no posexplode + window shuffle just to
    pair neighbors). The model is three bounded aggregates — pair
    counts, unigram counts, and the two scalar totals — joined back
    unhinted (a corpus-scale pair vocabulary must be free to
    shuffle-join; AQE broadcasts while it fits, and the scalar totals
    ride as explicit one-row broadcasts). The n_ab >= 5 support floor
    is the standard collocation cut, and it bounds output to the
    frequent-pair vocabulary. The pmi expression is mirrored
    cast-for-cast so both engines fold identical doubles before the
    single 6 dp output round.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "flatten(array("
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                "ELSE array() END, "
                "CASE WHEN size(t) >= 3 THEN transform(sequence(1, size(t) - 2), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 2) AS b)) "
                "ELSE array() END))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    cnt = pairs.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    np_ = pairs.agg(F.count("*").cast("double").alias("np"))
    uni = toks.select(F.explode("t").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("n_w")
    )
    nt = uni.agg(F.sum("n_w").cast("double").alias("nt"))
    ua = uni.select(F.col("tok").alias("a"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n_w").alias("n_b"))
    return (
        cnt.where(F.col("n_ab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nt))
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") / F.col("np"))
                    / (
                        (F.col("n_a").cast("double") / F.col("nt"))
                        * (F.col("n_b").cast("double") / F.col("nt"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def _bpe_pairs(seq_df: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over a vocab of
    space-separated symbol sequences (w, freq, seq)."""
    arr = F.split("seq", " ")
    pairs = F.expr(
        "transform(sequence(1, size(split(seq, ' ')) - 1), "
        "i -> struct(element_at(split(seq, ' '), i) AS a, "
        "element_at(split(seq, ' '), i + 1) AS b))"
    )
    return (
        seq_df.where(F.size(arr) > 1)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _bpe_merge(seq_df: DataFrame, best: DataFrame) -> DataFrame:
    """Apply one BPE merge: fuse every adjacent whole-symbol (a, b) pair
    into ab across the vocab, left-to-right non-overlapping.

    Whole-symbol discipline: a bare ``replace(seq, 'a b', 'ab')`` also
    binds where 'a' is merely the SUFFIX of a longer symbol (or 'b' a
    prefix) — once round 1 mints multi-char symbols, merging (a, b)
    would corrupt 'ta b' into the single symbol 'tab' and silently drop
    the true (ta, b) pair from later rounds. Instead of a token-array
    fold (slow path), keep the one-replace plan shape but make matches
    whole-symbol by construction: double the separators and pad both
    ends so every symbol is flanked by spaces it does not share, match
    ' a  b ' (which can only bind at real symbol boundaries), then
    collapse the doubling. Greedy left-to-right non-overlap survives
    the transform: 'a a a' + (a,a) -> 'aa a', 'a a a a' -> 'aa aa',
    exactly the textbook Sennrich merge. The DuckDB oracle mirrors the
    identical pad/replace/collapse so both engines agree by the same
    left-to-right scan, not by sharing a bug (tests/test_planted_ops.py
    pins the {ab, tab, ta} boundary-collision corpus)."""
    padded = F.concat(
        F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    pat = F.concat(F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" "))
    fused = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
    return seq_df.crossJoin(F.broadcast(best.select("a", "b"))).select(
        "w",
        "freq",
        F.trim(F.replace(F.replace(padded, pat, fused), F.lit("  "), F.lit(" "))).alias(
            "seq"
        ),
    )


def _bpe_oracle_ladder(k: int, tokenize: bool) -> list[str]:
    """The ONE copy of the DuckDB words/seq1/p{r}/b{r}/seq{r+1} CTE
    ladder both BPE oracles unroll (r11 review: two hand-maintained
    copies of the pad/replace/collapse SQL could silently diverge —
    CLAUDE.md requires engine and oracle merges in lockstep, which
    starts with train and apply sharing one ladder). ``tokenize``
    switches the two intentional differences: the argmax CTE unions the
    ``chr(1)`` sentinel pair (n = -1, wins only when no real pair
    exists, pattern can never bind — words never contain 0x01), and the
    merge is applied after round k too, so seq{k+1} exists."""
    ctes = [
        r"""words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents
      ) WHERE length(w) > 0 GROUP BY w
    )""",
        r"""seq1 AS (
      SELECT w, freq, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seq
      FROM words
    )""",
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT s.freq, s.arr[g.i] AS a, s.arr[g.i + 1] AS b
        FROM (SELECT freq, string_split(seq, ' ') AS arr FROM seq{r}) s,
             unnest(generate_series(1, len(s.arr) - 1)) AS g(i)
      ) GROUP BY a, b
    )"""
        )
        if tokenize:
            ctes.append(
                f"""b{r} AS (
      SELECT a, b, n FROM (
        SELECT a, b, n FROM p{r}
        UNION ALL SELECT chr(1), chr(1), CAST(-1 AS BIGINT)
      ) ORDER BY n DESC, a, b LIMIT 1
    )"""
            )
        else:
            ctes.append(
                f"b{r} AS (SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"
            )
        if r < k or tokenize:
            ctes.append(
                f"""seq{r + 1} AS (
      SELECT s.w, s.freq,
             trim(replace(replace(
               ' ' || replace(s.seq, ' ', '  ') || ' ',
               ' ' || b{r}.a || '  ' || b{r}.b || ' ',
               ' ' || b{r}.a || b{r}.b || ' '), '  ', ' ')) AS seq
      FROM seq{r} s, b{r}
    )"""
            )
    return ctes


def _bpe_train_oracle(k: int) -> str:
    """``k``-round BPE trainer oracle: the shared ladder without the
    sentinel, tailed by the UNION ALL of the k argmax rows. Exhaustion:
    once every word is one symbol, p{r}/b{r} are empty and seq{r+1}
    (cross join against empty b{r}) is empty — later rounds contribute
    zero rows in BOTH engines, so the result has fewer than k rows."""
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS left_sym, "
        f"b AS right_sym, n AS pair_count FROM b{r}"
        for r in range(1, k + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=False))
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def _bpe_apply_oracle(k: int) -> str:
    """Train-then-TOKENIZE oracle: the shared ladder in sentinel mode
    (apply is TOTAL in k — past exhaustion every remaining round is a
    no-op rewrite, not the trainer's empty-frame degeneration), tailed
    by per-word tokenization stats from seq{k+1}."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=True))
        + f"""
    SELECT w, freq, CAST(length(w) AS BIGINT) AS n_chars,
           CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tokens
    FROM seq{k + 1} ORDER BY freq DESC, w LIMIT 30"""
    )


def _bpe_encode_oracle(k: int) -> str:
    """Per-document ENCODE oracle: the shared ladder in sentinel mode
    (same tokenizer table as the apply oracle), tailed by the
    token-id assignment (dense lexicographic ids over the final token
    vocabulary) and the doc-word -> token-sequence join. One aggregate
    over the token-exploded frame mirrors the Spark plan: tokens
    partition each word's characters, so word counts come from
    first-token rows and char counts from token lengths — no second
    corpus pass."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=True))
        + f""",
    toks AS (SELECT w, string_split(seq, ' ') AS toks FROM seq{k + 1}),
    ids AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
      FROM (SELECT DISTINCT unnest(toks) AS tok FROM toks)
    ),
    doc_words AS (
      SELECT doc_id, g.i AS pos, d.arr[g.i] AS w
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS arr
            FROM documents) d,
           unnest(generate_series(1, len(d.arr))) AS g(i)
      WHERE length(d.arr[g.i]) > 0
    ),
    doc_toks AS (
      SELECT dw.doc_id, dw.pos, g.j, t.toks[g.j] AS tok, i.tok_id
      FROM doc_words dw, toks t,
           unnest(generate_series(1, len(t.toks))) AS g(j), ids i
      WHERE dw.w = t.w AND t.toks[g.j] = i.tok
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE j = 1) AS BIGINT) AS n_words,
           CAST(sum(length(tok)) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_tokens,
           array_to_string((list(tok_id ORDER BY pos, j))[1:10], ',')
             AS head_ids
    FROM doc_toks GROUP BY doc_id"""
    )


def _bpe_fertility_oracle(k: int) -> str:
    """Per-lang FERTILITY oracle: the shared ladder in sentinel mode,
    then per-word token counts (no id table needed — fertility is a
    count metric), the lang-carrying word explode, one per-lang
    aggregate, and the totality left-join from the per-lang doc counts
    (a lang with only whitespace-only docs gets a 0/NULL row, never a
    missing one). chars-per-token divides word lengths, exact because
    BPE tokens partition each word's characters."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=True))
        + f""",
    wt AS (
      SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS w_toks
      FROM seq{k + 1}
    ),
    dwords AS (
      SELECT d.lang, d.arr[g.i] AS w
      FROM (SELECT lang, string_split_regex(lower(text), '\\s+') AS arr
            FROM documents) d,
           unnest(generate_series(1, len(d.arr))) AS g(i)
      WHERE length(d.arr[g.i]) > 0
    ),
    per_lang AS (
      SELECT wo.lang,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(wt.w_toks) AS BIGINT) AS n_tokens,
             CAST(sum(length(wo.w)) AS BIGINT) AS n_chars
      FROM dwords wo JOIN wt ON wo.w = wt.w
      GROUP BY wo.lang
    ),
    dl AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    )
    SELECT dl.lang,
           dl.n_docs,
           coalesce(p.n_words, CAST(0 AS BIGINT)) AS n_words,
           coalesce(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
           CASE WHEN coalesce(p.n_words, CAST(0 AS BIGINT)) = 0 THEN NULL
                ELSE round(CAST(p.n_tokens AS DOUBLE)
                           / CAST(p.n_words AS DOUBLE), 6)
           END AS fertility,
           CASE WHEN coalesce(p.n_tokens, CAST(0 AS BIGINT)) = 0 THEN NULL
                ELSE round(CAST(p.n_chars AS DOUBLE)
                           / CAST(p.n_tokens AS DOUBLE), 6)
           END AS chars_per_token
    FROM dl LEFT JOIN per_lang p ON dl.lang = p.lang"""
    )


def _bpe_vocab_table_oracle(k: int) -> str:
    """Token-vocabulary-report oracle: the shared ladder in sentinel
    mode, then one explode + one aggregate over the tokenized vocab
    (windows evaluate after GROUP BY, so the dense id rides the same
    SELECT)."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=True))
        + f""",
    per AS (
      SELECT w, freq, unnest(string_split(seq, ' ')) AS tok FROM seq{k + 1}
    )
    SELECT tok,
           CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id,
           CAST(length(tok) AS BIGINT) AS tok_len,
           CAST(count(DISTINCT w) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM per GROUP BY tok"""
    )


def _bpe_decode_oracle(k: int) -> str:
    """Roundtrip DECODE oracle: the shared ladder in sentinel mode, the
    encode oracle's doc-word -> token-id join, then the INVERSE id join
    (ids back to token strings through the same dense-id table) and a
    two-level ordered string_agg reconstruction — tokens concatenate
    bare within a word (BPE tokens partition the word's characters),
    words join with single spaces. ``norm_text`` rides the same
    aggregation from the original words, so the roundtrip comparison
    never re-reads the corpus."""
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_ladder(k, tokenize=True))
        + f""",
    toks AS (SELECT w, string_split(seq, ' ') AS toks FROM seq{k + 1}),
    ids AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tok_id
      FROM (SELECT DISTINCT unnest(toks) AS tok FROM toks)
    ),
    doc_words AS (
      SELECT doc_id, g.i AS pos, d.arr[g.i] AS w
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS arr
            FROM documents) d,
           unnest(generate_series(1, len(d.arr))) AS g(i)
      WHERE length(d.arr[g.i]) > 0
    ),
    doc_tok_ids AS (
      SELECT dw.doc_id, dw.pos, dw.w, g.j, i.tok_id
      FROM doc_words dw, toks t,
           unnest(generate_series(1, len(t.toks))) AS g(j), ids i
      WHERE dw.w = t.w AND t.toks[g.j] = i.tok
    ),
    dec AS (
      SELECT d.doc_id, d.pos, d.w, d.j, i.tok AS dec_tok
      FROM doc_tok_ids d JOIN ids i ON d.tok_id = i.tok_id
    ),
    words_out AS (
      SELECT doc_id, pos,
             string_agg(dec_tok, '' ORDER BY j) AS word,
             min(w) AS orig,
             count(*) AS n_toks,
             sum(length(dec_tok)) AS n_chars
      FROM dec GROUP BY doc_id, pos
    ),
    docs_out AS (
      SELECT doc_id,
             string_agg(word, ' ' ORDER BY pos) AS decoded,
             string_agg(orig, ' ' ORDER BY pos) AS norm_text,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM words_out GROUP BY doc_id
    )
    SELECT td.doc_id,
           coalesce(d.n_tokens, 0) AS n_tokens,
           coalesce(d.n_chars, 0) AS n_chars,
           substring(coalesce(d.decoded, ''), 1, 40) AS head_text,
           CASE WHEN coalesce(d.decoded, '') = coalesce(d.norm_text, '')
                THEN 'ok' ELSE 'mismatch' END AS roundtrip
    FROM (SELECT doc_id FROM documents) td
    LEFT JOIN docs_out d ON td.doc_id = d.doc_id"""
    )


def bpe_encode_for(
    docs: DataFrame, k: int, toks: DataFrame | None = None
) -> DataFrame:
    """Encode a ``(doc_id, text)`` corpus with a k-merge BPE tokenizer
    trained on its own vocabulary: per document, exact word/char/token
    counts plus the first 10 token ids (``head_ids``) under a dense
    lexicographic id assignment over the final token vocabulary.

    This is the production join shape the tokenizer story relies on at
    100 TB (train -> apply -> ENCODE): the merge loop only ever touches
    the |vocab|-row frame (``bpe_apply_for``, checkpoint-backed), and
    the corpus is touched exactly ONCE — by the word-position explode —
    then mapped to token sequences by a broadcast join of doc words
    against the tokenized vocab and to ids by a broadcast join against
    the token table. No merge is ever re-run per document.
    tests/test_plans.py pins exactly one corpus scan and the two
    broadcast joins.

    Broadcast sizing: the token-id table is at most |alphabet| + k rows
    by construction. The tokenized vocab is |distinct words|; at the
    trillion-token corpus scale where a multi-GB vocab outgrows the
    broadcast threshold, drop the hint and let AQE pick the join (doc
    words and vocab both hash-partition on ``w`` cleanly) — the
    explicit hint here encodes the common case, not a hard requirement.
    The token-id ``row_number`` runs unpartitioned over that bounded
    token vocabulary — a documented tiny global frame, same class as
    the 1-row argmax windows.

    Aggregation discipline: everything reduces in ONE groupBy over the
    token-exploded frame — BPE tokens exactly partition each word's
    characters (the seed is the char split and merges only concatenate),
    so ``n_chars = sum(length(tok))`` and each word contributes exactly
    one first-token row (``j = 0``), giving ``n_words`` without a
    second corpus pass. A separate word-stats branch would scan the
    corpus twice. head_ids orders by (pos, j): word position in the
    document, then token position within the word — exact document
    order, no float discipline anywhere."""
    per_tok, _ = _bpe_doc_tokens(docs, k, toks=toks)
    return per_tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("j") == 0, 1).otherwise(0)).cast("long").alias("n_words"),
        F.sum(F.length("tok")).cast("long").alias("n_chars"),
        F.count("*").cast("long").alias("n_tokens"),
        # comma-joined string, not array<long>: declared queries emit
        # scalars only (the driver's pandas canonicalizer cannot hash
        # lists — tests/test_schema_align.py enforces)
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("pos", "j", "tok_id"))),
                    1,
                    10,
                ),
                lambda x: x.tok_id.cast("string"),
            ),
            ",",
        ).alias("head_ids"),
    ).select("doc_id", "n_words", "n_chars", "n_tokens", "head_ids")


def bpe_fertility_for(
    docs: DataFrame, k: int, toks: DataFrame | None = None
) -> DataFrame:
    """Per-language tokenizer FERTILITY report for a ``(doc_id, lang,
    text)`` corpus under its own k-merge BPE tokenizer: tokens per
    whitespace word (the fertility metric tokenizer evaluations are
    built on — a lang whose fertility runs high is paying more context
    window per word) and characters per token (the compression the
    merges bought), plus exact doc/word/token volumes.

    No token ids are needed — fertility is a pure COUNT metric — so the
    shape is lighter than encode: the merge loop runs |vocab|-sized
    behind checkpoints (``bpe_apply_for``), per-word token counts
    broadcast onto ONE lang-carrying word explode of the corpus, and
    everything reduces in a single |langs|-group aggregate.
    chars-per-token sums ``length(w)`` directly — exact because BPE
    tokens partition each word's characters (the bpe_encode_for
    invariant), so no per-token explode is ever built. The report is
    TOTAL over languages (q_decontaminate discipline): a lang whose
    docs are all whitespace-only keeps its doc count with NULL ratios
    via the left-join from the lang-pruned doc-count scan.

    Float discipline: the two ratios are single IEEE divisions of exact
    int64 sums (bit-identical on both engines), rounded at 6 dp; the
    zero-word/zero-token guards are CASE NULLs in lockstep with the
    oracle."""
    if toks is None:
        toks = bpe_apply_for(_bpe_vocab_of(docs), k)
    wtoks = toks.select(
        "w", F.size(F.split("seq", " ")).cast("long").alias("w_toks")
    )
    words = docs.select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).where(F.length("w") > 0)
    per_lang = (
        words.join(F.broadcast(wtoks), "w")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("w_toks").cast("long").alias("n_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
    )
    dl = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    zero = F.lit(0).cast("long")
    return dl.join(per_lang, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_words", zero).alias("n_words"),
        F.coalesce("n_tokens", zero).alias("n_tokens"),
        F.when(F.coalesce("n_words", zero) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
                6,
            )
        )
        .alias("fertility"),
        F.when(F.coalesce("n_tokens", zero) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
                6,
            )
        )
        .alias("chars_per_token"),
    )


_BPE_K = 4  # merges of the shared tokenized vocabulary


@artifact("bpe_toks")
def _bpe_toks_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZED VOCABULARY (w, freq, seq) for the documents table at
    _BPE_K merges — the artifact a tokenizer build persists and
    everything downstream reads: q_text_bpe_apply's compression report,
    q_text_bpe_vocab's id table, and the encode/decode/fertility corpus
    passes all consume this one frame; production trains ONCE. The
    build is the probed bpe_apply_for body, unchanged (the trainer
    queries q_text_bpe_merge/train keep their own k=3/k=6 fresh runs —
    single-consumer artifacts stay uncached)."""
    return bpe_apply_for(
        _bpe_vocab_of(table(spark, sf_dir, "documents")), _BPE_K
    ).localCheckpoint()


def _bpe_doc_tokens(docs: DataFrame, k: int, toks: DataFrame | None = None):
    """The ONE copy of the doc->token join shape behind bpe_encode_for
    and bpe_decode_for (the CLAUDE.md lockstep discipline extended to
    the corpus side: a drifted second copy of this join would let
    encode and decode disagree on the id space). Returns
    ``(per_tok, tok_ids)``: ``per_tok`` is the token-exploded corpus
    frame (doc_id, pos, w, j, tok, tok_id) — ONE corpus scan, then a
    broadcast join of doc words against the tokenized vocab and a
    broadcast join against the dense-id table; ``tok_ids`` is that
    (tok, tok_id) table, bounded by |alphabet| + k rows. ``toks``: an
    optional prebuilt tokenized vocab (the _bpe_toks_cached artifact)
    replacing the fresh merge-ladder run."""
    if toks is None:
        toks = bpe_apply_for(_bpe_vocab_of(docs), k)
    tok_ids = (
        toks.select(F.explode(F.split("seq", " ")).alias("tok"))
        .distinct()
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy("tok"))
            .cast("long")
            .alias("tok_id"),
        )
    )
    per_tok = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "w"),
        )
        .where(F.length("w") > 0)
        .join(
            F.broadcast(toks.select("w", F.split("seq", " ").alias("toks"))), "w"
        )
        .select("doc_id", "pos", "w", F.posexplode("toks").alias("j", "tok"))
        .join(F.broadcast(tok_ids), "tok")
    )
    return per_tok, tok_ids


def bpe_decode_for(
    docs: DataFrame, k: int, toks: DataFrame | None = None
) -> DataFrame:
    """DECODE a ``(doc_id, text)`` corpus back out of its own k-merge
    BPE encoding and prove the roundtrip: per document, the token ids
    from the encode join shape are inverted through the dense-id table
    (the token STRING is dropped first — the inversion is a real
    id -> token join, not a pass-through), the token stream is
    reassembled into the document (tokens concatenate bare within a
    word, words join with single spaces), and the result is compared
    with the normalized original — ``decode(encode(x)) ==
    normalize(x)``, the invariant production tokenizers are judged by.

    Scale shape: ONE corpus scan (shared with encode via
    ``_bpe_doc_tokens``), THREE broadcast joins (tokenized vocab,
    id assignment, id inversion — all bounded frames), then ONE
    groupBy(doc_id) reassembly (r16: fused from the former
    groupBy(doc_id, pos) -> groupBy(doc_id) two-level shape — one
    corpus-sized exchange instead of two, measured 1.7-1.9 s ->
    ~1.4 s per fresh call at sf0.1 with bit-identical output): the
    per-doc token structs sort on the unique (pos, j) key and an
    index-aware transform inserts a space exactly where a new word
    starts (j == 0, not document-initial), which is by construction
    the same string as joining per-word token concatenations with
    single spaces. Per-doc aggregation state is document-bounded
    either way — the old second level already collected every word of
    a document into one buffer, and the decoded string itself is
    document-sized. The normalized original rides the SAME aggregation
    (``w`` carried only on each word's j == 0 row, filtered back out of
    the sorted structs), so the comparison costs no second corpus
    pass; only the final totality left-join re-touches the documents
    table, and that scan prunes to the doc_id column. The report is
    TOTAL over the corpus: a document with no words (whitespace-only
    text) decodes to the empty string, which equals its empty
    normalization -> a default-'ok' row, never a silently missing
    one."""
    per_tok, tok_ids = _bpe_doc_tokens(docs, k, toks=toks)
    dec = per_tok.select(
        "doc_id",
        "pos",
        "j",
        F.when(F.col("j") == 0, F.col("w")).alias("w0"),
        "tok_id",
    ).join(
        F.broadcast(tok_ids.select("tok_id", F.col("tok").alias("dec_tok"))),
        "tok_id",
    )
    agg = dec.groupBy("doc_id").agg(
        # (pos, j) is unique per doc, so the struct sort never consults
        # the NULL w0 fields of j > 0 rows.
        F.array_sort(F.collect_list(F.struct("pos", "j", "w0", "dec_tok"))).alias(
            "a"
        ),
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.length("dec_tok")).cast("long").alias("n_chars"),
    )
    docs_out = agg.select(
        "doc_id",
        F.array_join(
            F.transform(
                "a",
                lambda x, i: F.concat(
                    F.when((i > 0) & (x.j == 0), F.lit(" ")).otherwise(F.lit("")),
                    x.dec_tok,
                ),
            ),
            "",
        ).alias("decoded"),
        F.array_join(
            F.transform(F.filter("a", lambda x: x.j == 0), lambda x: x.w0), " "
        ).alias("norm_text"),
        "n_tokens",
        "n_chars",
    )
    return docs.select("doc_id").join(docs_out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce("n_chars", F.lit(0).cast("long")).alias("n_chars"),
        F.substring(F.coalesce("decoded", F.lit("")), 1, 40).alias("head_text"),
        F.when(
            F.coalesce(F.col("decoded"), F.lit(""))
            == F.coalesce(F.col("norm_text"), F.lit("")),
            F.lit("ok"),
        )
        .otherwise(F.lit("mismatch"))
        .alias("roundtrip"),
    )


def bpe_apply_for(words: DataFrame, k: int) -> DataFrame:
    """Tokenize a ``(w, freq)`` vocabulary with a k-merge BPE table
    trained on the fly: the inference half of byte-pair encoding at the
    vocab level, returning ``(w, freq, seq)`` where ``seq`` is the
    space-joined token sequence after k merges.

    Same per-round machinery and lineage truncations as
    :func:`bpe_train_for`, with one addition that makes apply TOTAL in
    k: each round's argmax is unioned with a reserved sentinel pair
    (``\\x01``, ``\\x01``, n=-1). While real pairs exist the sentinel
    always loses the (n DESC, a, b) sort; once the vocab is fully fused
    it wins, and its merge pattern — two adjacent whole symbols equal to
    the 0x01 byte, which tokenized words cannot contain — binds nowhere,
    so remaining rounds are no-op rewrites instead of the cross-join-
    against-empty degeneration the trainer's merge-table semantics
    tolerate. Scale shape: tokenizing at the DISTINCT-WORD level is the
    production layout (trillions of corpus tokens reduce to a
    millions-row vocab; per-doc token ids come from a broadcast join of
    doc words against this frame), so the corpus is touched once here
    and never per round."""
    _, seq = _bpe_rounds(words, k, tokenize=True)
    return seq


def bpe_train_for(words: DataFrame, k: int) -> DataFrame:
    """``k``-round Sennrich BPE trainer over a ``(w, freq)`` vocabulary
    frame: each round counts frequency-weighted adjacent symbol pairs,
    picks the argmax (ties lexicographic on the pair), and fuses it
    across the vocab with the whole-symbol replace of ``_bpe_merge``.
    Returns the merge table (merge_rank, left_sym, right_sym,
    pair_count) — the artifact a tokenizer build persists.

    BPE training is INHERENTLY sequential in k (round r's pair counts
    depend on round r-1's rewrite), so the plan cannot fan out across
    rounds; what must not happen is the naive alternative, where round
    r's lineage re-embeds every earlier round's argmax subtree and the
    plan grows EXPONENTIALLY in k. Two truncations keep it linear and
    one-vocab-pass-per-round:

    - the 1-row ``best`` frame is eagerly localCheckpoint-ed, so the
      merge consumes a materialized constant instead of the whole
      pair-count aggregate's plan;
    - the rewritten vocab is lazily localCheckpoint-ed each round, so
      round r+1's pair counting starts from round r's materialized
      strings (one Spark job per round — the q_dedup_cluster /
      k-means house pattern for iterative frames).

    At 100 TB the corpus is touched once (callers aggregate it to the
    (w, freq) vocab before calling); every round is then a pair-explode
    + groupBy over the |vocab|-row frame, a |pair-types| argmax sort,
    and a broadcast 1-row rewrite. If the vocab exhausts (every word one
    symbol) before k rounds, later rounds yield empty frames and the
    merge table simply ends early — same semantics as the oracle chain.
    """
    merges, _ = _bpe_rounds(words, k, tokenize=False)
    return merges


def _bpe_rounds(words: DataFrame, k: int, tokenize: bool):
    """The ONE copy of the k-round merge loop behind bpe_train_for and
    bpe_apply_for (r11 review: the loop and the char-split seed existed
    twice, so a lineage- or merge-discipline fix could land in only one
    half of the tokenizer). Returns ``(merge_table, final_seq)``.

    ``tokenize`` switches the two intentional differences, mirroring
    ``_bpe_oracle_ladder`` exactly: the per-round argmax unions the
    reserved ``\\x01`` sentinel pair (apply must be total in k), and
    the merge is applied after round k too so the final rewritten vocab
    exists.

    Checkpoint hygiene: each eager argmax materializes the current
    vocab checkpoint, at which point the PREVIOUS round's checkpoint is
    superseded and its RDD blocks are released via
    :func:`data_pipeline_etl_spark.checkpoints.free_local_checkpoint`
    (``DataFrame.unpersist`` would be a no-op here — checkpoint blocks
    live in the persistent-RDD registry, not the SQL CacheManager;
    ADVICE r11) — without this a large-k run (the production tokenizer
    build is k ~ 30k) pins one |vocab|-row RDD per round in executor
    storage until driver GC. The boundedness is pinned by
    tests/test_plans.py (persistent vocab RDDs do not grow with k).
    The last one or two vocab checkpoints stay persisted deliberately
    (the returned frames read from them), as do the k 1-row argmax
    checkpoints the merge table is built from. k <= 0 returns (empty
    merge table, char-split seq)."""
    spark = words.sparkSession
    seq = words.select(
        "w", "freq", F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq")
    )
    sentinel = (
        spark.range(1).select(
            F.lit("\x01").alias("a"),
            F.lit("\x01").alias("b"),
            F.lit(-1).cast("long").alias("n"),
        )
        if tokenize
        else None
    )
    out = []
    prev_cp = None  # superseded vocab checkpoint, freed once the next materializes
    seq_is_cp = False
    for rank in range(1, k + 1):
        pairs = _bpe_pairs(seq)
        if sentinel is not None:
            pairs = pairs.unionByName(sentinel)
        best = (
            pairs.orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        # the eager argmax just materialized `seq`; whatever checkpoint
        # fed it is now superseded and its executor storage can go.
        # free_local_checkpoint releases the checkpoint's RDD blocks for
        # real (DataFrame.unpersist is a CacheManager call and does not
        # touch checkpoint storage — ADVICE r11); safe here because the
        # frame it fed is now fully materialized and nothing reads the
        # superseded one again.
        if prev_cp is not None:
            free_local_checkpoint(prev_cp)
            prev_cp = None
        out.append(
            best.select(
                F.lit(rank).cast("long").alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("n").alias("pair_count"),
            )
        )
        if rank < k or tokenize:
            if seq_is_cp:
                prev_cp = seq
            seq = _bpe_merge(seq, best).localCheckpoint(eager=False)
            seq_is_cp = True
    if not out:  # k <= 0: empty merge table, untouched char-split vocab
        merges = spark.createDataFrame(
            [], "merge_rank long, left_sym string, right_sym string, pair_count long"
        )
        return merges, seq
    merges = out[0]
    for frame in out[1:]:
        merges = merges.unionByName(frame)
    return merges, seq


def _bpe_vocab_of(docs: DataFrame) -> DataFrame:
    """The one corpus pass every BPE entry point shares (queries AND the
    scaling probe — a second hand-written copy of this aggregation could
    silently measure a different vocabulary): whitespace words of the
    lowered text, frequency-aggregated."""
    return (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_vocab_of(table(spark, sf_dir, "documents"))


@query("q_text_bpe_merge", oracle=_bpe_train_oracle(3))
def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary INDUCTION (the training half of byte-pair encoding;
    q_text_token_bpe is the inference half): three unrolled merge rounds,
    each picking the corpus's most frequent adjacent symbol pair and
    fusing it across the vocabulary — the Sennrich-style trainer every
    tokenizer build step runs before any token counting can happen.

    The scale shape IS the classic trainer's: the corpus is touched ONCE
    (word frequency aggregate); every merge round then operates on the
    DISTINCT-WORD frame weighted by frequency — pair counting explodes
    |vocab| short sequences, the argmax is a sort of |pair-types| rows,
    and the merge is one broadcast of a 1-row pair into a string rewrite.
    At 100 TB the vocab frame is millions of rows while the corpus is
    trillions — rounds never rescan the corpus. Symbol sequences are
    space-separated strings (not arrays): the merge is a whole-symbol
    ``replace`` (separator-doubled so ' a  b ' can only bind at real
    symbol boundaries — see ``_bpe_merge``) with textbook left-to-right
    non-overlap semantics, identical on both engines, and re-splitting
    per round keeps pair extraction a flat codegen expression.

    Determinism: ties in pair frequency break on (a, b) lexicographic
    order on both engines; counts are exact BIGINTs, so no float
    discipline is needed anywhere.

    r11: the formerly inline 3-round unroll is now ``bpe_train_for``
    (k parameterized, per-round lineage truncation) shared with
    q_text_bpe_train; values are unchanged and the planted trajectory
    tests pin the same merge tables.
    """
    return bpe_train_for(_bpe_vocab(spark, sf_dir), 3)


@query("q_text_bpe_train", oracle=_bpe_train_oracle(6))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-round BPE vocabulary training — the k>=4 generalization of
    q_text_bpe_merge, exercising the one operator class whose cost is
    SEQUENTIAL in its hyperparameter: merge r+1's pair statistics only
    exist after merge r has rewritten the vocabulary, so no plan can
    parallelize across rounds (contrast every other trainer here —
    IVF, k-means step, MinHash — whose stages fan out).

    What CAN be controlled is per-round cost and plan growth, and
    ``bpe_train_for`` pins both: the corpus is aggregated to the
    (word, freq) vocab ONCE, each round is one pair-explode aggregate +
    one |pair-types| argmax + one broadcast 1-row whole-symbol rewrite
    over the vocab frame, and per-round localCheckpoints keep the plan
    O(1) per round instead of exponentially re-embedding earlier argmax
    subtrees. A production tokenizer build (k ~ 30k merges) runs this
    exact loop shape with the vocab frame cached cluster-wide; rounds
    dominate wall-clock linearly, never the corpus rescan.

    Oracle: the same seq/p/b CTE ladder as k=3, machine-unrolled to 6
    rounds (``_bpe_train_oracle``), merge and tie-break byte-identical
    per round. Planted tests pin a hand-derived 6-round trajectory and
    the pre-k exhaustion path (vocab fully fused -> fewer than k rows,
    identically on both engines).
    """
    return bpe_train_for(_bpe_vocab(spark, sf_dir), 6)


@query("q_text_bpe_apply", oracle=_bpe_apply_oracle(_BPE_K))
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with a trained merge table — the APPLY half that
    closes the tokenizer loop (q_text_bpe_train learns the merges,
    q_text_token_bpe approximates token counts with a regex; this query
    tokenizes exactly): four merges trained on the corpus vocabulary,
    then per-word token counts for the 30 highest-frequency words
    (ties on the word), the frame a tokenizer-compression report reads.

    ``n_chars`` is the pre-BPE token count (character-split baseline);
    ``n_tokens`` the post-merge count — their ratio per word is the
    compression the k merges bought. The vocab-level layout is the
    at-scale design: tokenize each DISTINCT word once, broadcast-join
    token sequences back to the corpus when per-doc ids are needed —
    never re-run merges per document. The sentinel-pair trick in
    ``bpe_apply_for`` makes the round count total (no exhaustion
    footgun), mirrored byte-for-byte in the oracle's b{r} CTEs.

    Determinism: exact BIGINT counts, total (freq DESC, w) order into
    LIMIT 30 — TakeOrderedAndProject on the Spark side, no float
    discipline needed.
    """
    toks = _bpe_toks_cached(spark, sf_dir)
    return (
        toks.select(
            "w",
            "freq",
            F.length("w").cast("long").alias("n_chars"),
            F.size(F.split("seq", " ")).cast("long").alias("n_tokens"),
        )
        .orderBy(F.desc("freq"), "w")
        .limit(30)
    )


@query("q_text_bpe_encode", oracle=_bpe_encode_oracle(_BPE_K))
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE ENCODING through the k=4 tokenizer — the third
    panel of the tokenizer story (q_text_bpe_train learns the merge
    table, q_text_bpe_apply tokenizes the distinct-word vocabulary,
    this query carries the tokenization back onto every document): per
    doc, exact word/char/token counts and the first 10 token ids under
    a dense lexicographic token-id assignment.

    This is the query that exercises the broadcast-vocab join the
    100 TB layout depends on (see :func:`bpe_encode_for`): merges run
    |vocab|-sized only, the corpus is scanned once, and per-doc ids
    come from broadcast joins — never a per-document merge loop.
    Everything is exact integers; head_ids is ordered by document word
    position then within-word token position, so the result is
    hash-stable with no float or tie discipline."""
    return bpe_encode_for(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        _BPE_K,
        toks=_bpe_toks_cached(spark, sf_dir),
    )


@query("q_text_bpe_vocab", oracle=_bpe_vocab_table_oracle(_BPE_K))
def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKEN VOCABULARY report for the k=4 tokenizer — the artifact
    a tokenizer build persists beside the merge table (embedding-table
    sizing reads ``tok_id``/``tok_len``; mixture debugging reads the
    coverage columns): per final token, its dense lexicographic id
    (the SAME assignment q_text_bpe_encode embeds in head_ids — the two
    queries must never disagree on an id; the planted trajectory pins
    the shared space), token length, the number of distinct vocabulary
    words containing it, and its frequency-weighted corpus occurrence
    count.

    Scale shape: one explode + one aggregate over the |vocab|-row
    tokenized frame; the token vocabulary is bounded by
    |alphabet| + k, so the id-assigning global window is a documented
    tiny frame (same class as the 1-row argmax windows). All exact
    integers, total order by token — hash-stable with no float
    discipline."""
    toks = _bpe_toks_cached(spark, sf_dir)
    per = toks.select(
        "w", "freq", F.explode(F.split("seq", " ")).alias("tok")
    )
    return (
        per.groupBy("tok")
        .agg(
            F.count_distinct("w").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("n_occurrences"),
        )
        .select(
            "tok",
            F.row_number().over(Window.orderBy("tok")).cast("long").alias("tok_id"),
            F.length("tok").cast("long").alias("tok_len"),
            "n_words",
            "n_occurrences",
        )
    )


@query("q_text_bpe_decode", oracle=_bpe_decode_oracle(_BPE_K))
def q_text_bpe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE DECODE + roundtrip proof through the k=4 tokenizer — the
    closing panel of the tokenizer story (train learns the merge table,
    apply tokenizes the vocabulary, encode carries ids onto every
    document, this query inverts the ids back to text and CHECKS the
    inversion): per document, exact token/char counts, the first 40
    chars of the decoded text, and a roundtrip verdict comparing the
    reconstruction against the normalized original —
    ``decode(encode(x)) == normalize(x)``, the losslessness invariant
    a production tokenizer release is actually judged by, computed
    distributed and emitted as an auditable per-document report.

    The id inversion goes THROUGH the same dense lexicographic id
    table q_text_bpe_encode/q_text_bpe_vocab share (the token string
    is dropped before the inverse join — tests/test_plans.py pins the
    three broadcast joins, the single full-text corpus scan, and that
    the only shuffle join is the totality left-join against a
    doc_id-pruned scan), so a drifted id assignment anywhere in the
    family surfaces here as 'mismatch' rows, not silence. All exact integers and strings — hash-stable
    with no float discipline. See :func:`bpe_decode_for` for the
    100 TB shape."""
    return bpe_decode_for(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        _BPE_K,
        toks=_bpe_toks_cached(spark, sf_dir),
    )


@query(
    "q_text_novelty",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0) AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             arr[g.i] || ' ' || arr[g.i + 1] || ' ' || arr[g.i + 2] AS g
      FROM base,
           unnest(generate_series(1, greatest(len(arr) - 2, 0))) AS g(i)
    ),
    df AS (
      SELECT source, g, count(DISTINCT doc_id) AS df
      FROM grams GROUP BY source, g
    ),
    per AS (
      SELECT gr.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel
      FROM grams gr
      JOIN df ON gr.source = df.source AND gr.g = df.g
      GROUP BY gr.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           coalesce(p.n_novel, CAST(0 AS BIGINT)) AS n_novel,
           CASE WHEN p.n_grams IS NULL THEN NULL
                ELSE round(CAST(p.n_novel AS DOUBLE)
                           / CAST(p.n_grams AS DOUBLE), 6)
           END AS novelty
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN per p ON d.doc_id = p.doc_id
    """,
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram NOVELTY within its source: the fraction of a
    document's word trigrams that appear in NO other document of the
    same source — the memorization/boilerplate screen between exact
    dedup (identical text) and near-dup (high overlap): a document
    whose novelty collapses toward 0 is assembled from phrases the
    source already contains (templates, mirrors, quote farms) even when
    no single pair of documents is near-duplicate.

    Scale shape: the inverted-index discipline (q_sim_jaccard /
    q_dedup_chunkdup family) — one corpus scan explodes trigrams,
    document frequency is a (source, gram)-keyed aggregate (map-side
    combine collapses within-doc repeats first via the DISTINCT
    doc_id), the df joins back to the gram stream on the same
    (source, gram) key (one shuffle partitioning reused, blocked by
    source per the house dedup convention — never corpus-global), and
    everything reduces per doc. The report is TOTAL (q_decontaminate
    discipline): a document with fewer than 3 words keeps its row with
    0 grams and NULL novelty via the doc_id-pruned left join. The
    ratio is one IEEE division of exact int64 counts, rounded at 6 dp.
    Body in :func:`novelty_for` (frame-parameterized for the scaling
    probe).

    r17: input fanned out — the tokenize/trigram explode otherwise
    serializes on the one-row-group local fixture (measured 2.11 →
    1.03 s warm at sf0.1; fanout is a no-op on multi-split cluster
    layouts, values partition-invariant).
    """
    return novelty_for(fanout(table(spark, sf_dir, "documents")))


def novelty_for(d: DataFrame) -> DataFrame:
    """Per-doc trigram novelty for any (doc_id, source, text) frame —
    the body of :func:`q_text_novelty`, split out so the scaling probe
    can feed replicated corpora through the identical plan."""
    base = d.select(
        "doc_id",
        "source",
        F.expr(
            "filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)"
        ).alias("arr"),
    )
    grams = base.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(arr) >= 3 THEN "
                "transform(sequence(1, size(arr) - 2), "
                "i -> concat(arr[i - 1], ' ', arr[i], ' ', arr[i + 1])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    df = grams.groupBy("source", "g").agg(
        F.count_distinct("doc_id").alias("df")
    )
    per = (
        grams.join(df, ["source", "g"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        F.when(F.col("n_grams").isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
                6,
            )
        )
        .alias("novelty"),
    )


@query("q_text_bpe_fertility", oracle=_bpe_fertility_oracle(_BPE_K))
def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language FERTILITY of the k=4 tokenizer — the evaluation
    panel a tokenizer build is judged on before a model ever trains:
    tokens per whitespace word by language (high-fertility languages
    pay more context window per word — the metric multilingual data
    mixes are rebalanced on) and characters per token (the compression
    the merge budget bought), over exact doc/word/token volumes.

    Rides the SAME trained tokenizer as the bpe apply/encode/vocab/
    decode family (one merge loop, one vocabulary — a fertility number
    from a drifted second tokenizer would be unusable), but skips the
    token-id machinery entirely: counts broadcast from the |vocab|-row
    tokenized frame onto one lang-carrying corpus explode, one
    |langs|-group aggregate, and a totality left-join from the
    lang-pruned doc counts. See :func:`bpe_fertility_for` for the
    100 TB shape."""
    return bpe_fertility_for(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        _BPE_K,
        toks=_bpe_toks_cached(spark, sf_dir),
    )


# Fixed retrieval query for q_text_bm25 — terms drawn from the fixture
# vocabulary (the _MARKERS lists prove they occur). Okapi constants are
# the textbook defaults; they appear as LITERALS in both expression
# trees so the IEEE op sequence is engine-identical.
_BM25_TERMS = ("spark", "stream", "fast")


@query(
    "q_text_bm25",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS sc
      FROM tf
      JOIN df ON tf.tok = df.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
    ),
    docsc AS (
      SELECT doc_id, count(*) AS n_terms, round(sum(sc), 4) AS score_bm25
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, score_bm25, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, n_terms, score_bm25,
             row_number() OVER (ORDER BY score_bm25 DESC, doc_id) AS rn
      FROM docsc
    ) WHERE rn <= 20
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval: top-20 documents for a fixed
    3-term query (k1 = 1.2, b = 0.75, Lucene's ln(1 + ...) IDF so
    scores stay positive even for common terms) — the ranked-search
    counterpart of q_text_search's boolean hit count and the scoring
    backbone of retrieval-based decontamination and RAG corpus audits.

    Scale shape: the explode is filtered to the query terms BEFORE the
    (doc, term) aggregate, so the tf shuffle carries |docs| x |query|
    rows, never the full token stream; df and the corpus (n_docs,
    avgdl) stats are 1-row/|query|-row broadcasts. avgdl is computed as
    exact-integer sum(dl) / count (NOT a streaming float avg — the
    fold is order-independent in both engines, then ONE division).
    Each per-term score is one fixed expression tree mirrored
    literal-for-literal in the oracle; the per-doc fold sums <= 3
    doubles and rounds at 4 dp (the q_text_unigram_logprob fold
    precedent). Ranking orders by the ROUNDED score with doc_id
    tiebreak — a total order, so the top-20 cut is reproducible —
    executed as TakeOrderedAndProject (distributed partial top-k); the
    final row_number runs on the 20-row result (the documented
    metadata-size single-partition exception)."""
    d = table(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(_toks()).cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sc = idf * (
        (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    docsc = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(sc), 4).alias("score_bm25"),
        )
    )
    top = docsc.orderBy(F.desc("score_bm25"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score_bm25"), "doc_id")
    return top.withColumn("rn", F.row_number().over(w).cast("long")).select(
        "doc_id", "n_terms", "score_bm25", "rn"
    )
