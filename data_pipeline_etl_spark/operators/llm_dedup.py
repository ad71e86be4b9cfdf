"""Group J — deduplication operators for training-data pipelines
(SURVEY.md §2.J; north star BASELINE.json:6).

Four dedup families, each with its scale story:
- exact: normalize → md5 content hash → hash-groupBy. One shuffle on the
  16-byte hash; at 100 TB this is the cheapest possible dedup.
- fingerprint: md5 over the sorted distinct-token set — catches
  reorderings/repetitions. Same shuffle profile as exact.
- n-gram Jaccard: pairwise bigram-set similarity, *blocked* by metadata
  (lang, source) so the pair space is |block|² not |corpus|²; the
  unblocked 100 TB path is MinHashLSH (q_dedup_minhash below).
- SimHash: 16-bit signature from per-token md5 bits; near-dups share
  signatures. Signature computation is one explode + groupBy (linear).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_etl_spark.checkpoints import free_local_checkpoint
from data_pipeline_etl_spark.operators.materialized import artifact
from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import fanout, table

def _norm_spark():
    return F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))


_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


@query(
    "q_dedup_exact",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT md5({_NORM_SQL})) AS n_unique,
           count(*) - count(DISTINCT md5({_NORM_SQL})) AS n_dups
    FROM documents
    GROUP BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting: normalized-content md5 per language.

    The digest is projected ONCE before the aggregate so the plan carries a
    single distinct-aggregate group (one Expand branch pair, one shuffle on
    the 16-byte digest key) instead of re-evaluating md5(norm(text)) per
    aggregate expression; n_dups is derived post-aggregation.
    """
    d = table(spark, sf_dir, "documents")
    hashed = d.select("lang", F.md5(_norm_spark()).alias("h"))
    return (
        hashed.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("h").alias("n_unique"))
        .select(
            "lang",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_dups"),
        )
    )


@query(
    "q_dedup_fingerprint",
    oracle="""
    SELECT fp, count(*) AS n_docs,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
    FROM (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      FROM documents
    )
    GROUP BY fp
    HAVING count(*) > 1
    """,
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set fingerprint groups: docs whose distinct-token sets coincide."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " "))
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            # scalar output: numeric sort first, then cast to string and join
            # (array_join: NULL-array semantics match DuckDB array_to_string)
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def _unigram_elements(d: DataFrame) -> DataFrame:
    """Exploded distinct-unigram table for ``_inverted_index_jaccard``.

    Per-row array_distinct BEFORE the explode gives distinct (doc_id, el)
    with zero shuffles — the alternative (explode → distinct) costs a full
    shuffle of the exploded frame. Set sizes are deliberately NOT computed
    here: a pre-explode ``size(...)`` alias gets re-inlined by Catalyst's
    project-collapse and re-evaluated per *exploded* row on both sides of
    the self-join (measured 8× regression at sf0.1) — the helper derives
    them from an aggregate instead.
    """
    return d.select(
        "doc_id", "lang", "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("el"),
    )


def _inverted_index_jaccard(ex: DataFrame, threshold: float) -> DataFrame:
    """Blocked inverted-index Jaccard from an exploded element table
    ``ex(doc_id, lang, source, el)`` with distinct (doc_id, el):
    equi-join on element → count shared elements per pair → set algebra.

    This is the shuffle-native formulation: every step is a codegen'd
    hash join/aggregate (no interpreted array intersections per pair),
    and pairs only materialize for documents sharing >= 1 element within
    a (lang, source) block. Set sizes come from a doc-level count
    aggregate joined onto the *pair* frame after the intersection count —
    the element self-join stays as narrow as possible and the size join
    touches |pairs| + |docs| rows, both ≪ the exploded frame. At corpus
    scale the block key becomes an LSH band (q_dedup_minhash) — the join
    topology stays identical.
    """
    counts = ex.groupBy("doc_id").agg(F.count("*").alias("n_elems"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.el") == F.col("b.el"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    pairs = inter.join(
        counts.select(F.col("doc_id").alias("doc_a"), F.col("n_elems").alias("na")), "doc_a"
    ).join(
        counts.select(F.col("doc_id").alias("doc_b"), F.col("n_elems").alias("nb")), "doc_b"
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.withColumn("jac_raw", jac)
        .where(F.col("jac_raw") >= threshold)
        .select("doc_a", "doc_b", F.round("jac_raw", 6).alias("jaccard"))
    )


@query(
    "q_dedup_ngram",
    oracle="""
    WITH grams AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             )) AS bigrams
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.bigrams, b.bigrams))
                 / (len(a.bigrams) + len(b.bigrams)
                    - len(list_intersect(a.bigrams, b.bigrams))), 6) AS jaccard
    FROM grams a JOIN grams b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.bigrams, b.bigrams))
          / (len(a.bigrams) + len(b.bigrams)
             - len(list_intersect(a.bigrams, b.bigrams))) >= 0.4
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-shingle Jaccard near-dup pairs, blocked by (lang, source).

    Shingles come from posexplode + lead() (codegen'd window) instead of
    an interpreted transform-over-sequence. The element frame is the
    :func:`ngram_elements_table` artifact: the downstream self-join
    would otherwise evaluate the whole tokenize → window → distinct
    subtree TWICE (Catalyst does not share the aliased subtree).
    """
    return _inverted_index_jaccard(ngram_elements_table(spark, sf_dir), 0.4)


@artifact("ngram_elements")
def ngram_elements_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct bigram-shingle element frame (doc_id, lang, source, el)
    over ``fanout(documents)``, so the single tokenize pass parallelizes
    past the one-row-group local fixture. Built once per session: a
    per-call checkpoint would leave one more held copy behind per call."""
    from pyspark.sql import Window

    d = fanout(table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", "lang", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", "lang", "source", F.concat_ws(" ", "tok", "nxt").alias("el"))
        .distinct()
        .localCheckpoint()
    )


@query(
    "q_sim_jaccard",
    oracle="""
    WITH sets AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks))
                 / (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
    FROM sets a JOIN sets b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))
          / (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.8
    """,
)
def q_sim_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs >= 0.8, blocked by (lang, source).

    Same inverted-index topology as q_dedup_ngram with unigram elements;
    the exact-Jaccard ground truth that q_dedup_minhash approximates.
    """
    return neardup_pairs_table(spark, sf_dir)


@artifact("neardup_pairs")
def neardup_pairs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard>=0.8 near-dup pair frame (doc_a, doc_b, jaccard) over the
    documents table — the ONE pair graph q_sim_jaccard returns,
    q_dedup_degree histograms, and the cluster-label build
    (dedup_clusters_table) runs CC over. At 100 TB the near-dup pair
    table is the materialized artifact every dedup consumer reads. The
    build reads the shared :func:`unigram_elements_table` instead of
    re-tokenizing the corpus."""
    return _inverted_index_jaccard(
        unigram_elements_table(spark, sf_dir), 0.8
    ).localCheckpoint()


@artifact("unigram_elements")
def unigram_elements_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded distinct-unigram element frame (doc_id, lang, source,
    el) over the documents table — the corpus tokenization the whole
    exact-set dedup family keys on. Two consumers: the
    :func:`neardup_pairs_table` build and q_dedup_containment (whose
    element self-join otherwise evaluates the tokenize+explode subtree
    twice per call). Size is corpus-element-bounded (~116k rows of four
    short strings at sf0.1 — measured 0.68 s to build); the 100×
    scaling probes are unaffected because every ``*_for`` body still
    tokenizes fresh. Built over ``fanout(documents)`` so the single
    tokenize pass parallelizes past the one-row-group local fixture
    (values are partition-invariant; fanout is a no-op on multi-split
    cluster layouts)."""
    return _unigram_elements(
        fanout(table(spark, sf_dir, "documents"))
    ).localCheckpoint()


# --- SimHash ---------------------------------------------------------------
# 16-bit signature. Bit j of a token's hash := whether the j-th hex digit of
# md5(token) is in 8..f (its high bit). A document's bit j is the sign of the
# sum of (+1/-1) votes over its distinct tokens. Pure builtin SQL on both
# engines — no UDF, no engine-specific hash function.
_HI = "('8','9','a','b','c','d','e','f')"
_BITS = 16


def _simhash_oracle() -> str:
    votes = ",\n             ".join(
        f"sum(CASE WHEN substring(md5(tok), {j + 1}, 1) IN {_HI} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_BITS)
    )
    sig = " + ".join(f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(_BITS))
    return f"""
    WITH votes AS (
      SELECT doc_id,
             {votes}
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (near-dup bucketing key).

    r17: input fanned out — the 16 per-token md5-digit votes otherwise
    serialize on the one-row-group local fixture (measured 1.16× warm
    at sf0.1; no-op on multi-split cluster layouts).
    """
    d = fanout(table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    h = F.md5("tok")
    votes = [
        F.sum(
            F.when(F.substring(h, j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(_BITS)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(_BITS):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return voted.select("doc_id", sig.cast("long").alias("simhash"))


@query("q_dedup_minhash")  # rows-only: MinHash family is engine-specific
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH banded near-dup candidates — the 100 TB Jaccard path.

    Uses pyspark.ml's MinHashLSH over hashed token features; candidate
    pairs at Jaccard distance < 0.5 (approxSimilarityJoin filters the
    TRUE set distance strictly below the threshold; the hash tables only
    prune candidates). Rows-only by design, re-adjudicated r12: the
    permutation coefficients come from a Scala Random stream, which no
    DuckDB SQL can reproduce byte-identically — the deterministic twin
    pipeline (q_dedup_minhash_sig / q_dedup_lsh_candidates) carries the
    oracle burden instead, and tests/test_rows_only.py pins THIS query's
    values against an independent exact-Jaccard reference (pair-set
    equality + per-pair distance match; measured recall 1.0 on the
    fixture block).

    Fixture caveat: the synthetic corpus has a ~31-token vocabulary, so
    every pair of documents collides in some band and LSH degenerates to
    the full quadratic join (measured: 900 s at sf0.1). The demo therefore
    runs on one metadata block (source='src0'); on a real corpus the band
    collision rate — not a pre-filter — is what bounds the pair space.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = table(spark, sf_dir, "documents").where(F.col("source") == "src0")
    toks = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 12, binary=True)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@query(
    "q_dedup_survivor",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS content_hash
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, content_hash, n_chars,
             row_number() OVER (PARTITION BY content_hash
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY content_hash) AS group_size
      FROM fp
    )
    SELECT doc_id, content_hash,
           CAST(group_size AS BIGINT) AS group_size,
           rn = 1 AS keep
    FROM ranked
    WHERE group_size > 1
    """,
)
def q_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship: within each duplicate group (token-set
    fingerprint key — the fixture has no byte-exact dups at sf0.01, cf.
    q_dedup_exact, but 21 fingerprint groups), keep the longest document
    (doc_id tiebreak) and mark the rest for drop.

    The *resolution* step that the accounting queries only count: emit a
    keep/drop decision per member of every multi-doc group. One shuffle
    total — the row_number and count windows share the content_hash
    partitioning, so ranking rides the same exchange. At 100 TB the
    digest key is uniform (md5), so no skew; the keep rule is
    deterministic, making retries and backfills idempotent. Swapping the
    key column for md5 of normalized content gives byte-exact
    survivorship with the identical plan.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    fp_expr = F.md5(F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " "))
    fp = d.select("doc_id", "n_chars", fp_expr.alias("content_hash"))
    w = Window.partitionBy("content_hash")
    ranked = fp.select(
        "doc_id",
        "content_hash",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rn"),
        F.count("*").over(w).alias("group_size"),
    )
    return ranked.where(F.col("group_size") > 1).select(
        "doc_id",
        "content_hash",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("rn") == 1).alias("keep"),
    )


# --- deterministic MinHash signatures --------------------------------------
# k=8 "permutations", each simulated by salting md5: h_i(tok) = md5(i || ':'
# || tok); the signature component is the lexicographic min over the doc's
# distinct tokens. Engine-neutral (md5 hex is identical in Spark and DuckDB),
# so unlike ml.MinHashLSH (q_dedup_minhash, rows-only) this is hash-checkable.
_MINHASH_K = 12
_MINHASH_BAND = 3  # 4 bands of 3 rows — the LSH bucketing key
# Band shape is a recall/precision dial: P(candidate | jaccard s) =
# 1-(1-s^r)^b for b bands of r rows. The original 2x4 config gave 0.65 at
# the s=0.8 decision threshold (measured 0.865/0.853 recall at
# sf0.01/sf0.1 because most true pairs sit above 0.8); 4 bands of 3 gives
# 0.943 at s=0.8 (measured below in tests/test_properties.py and
# SCALE.md) while r=3 keeps the random-collision rate for unrelated pairs
# near s^3 per band — the knee of the curve for a recall-first dedup
# pipeline, where a missed near-dup is training-data contamination but a
# false candidate only costs one exact-jaccard verification.


def _minhash_sig(d: DataFrame, with_block: bool = False) -> DataFrame:
    """Per-doc k-component MinHash signature frame (optionally carrying the
    (lang, source) block key): one explode + one groupBy with k min
    aggregates — linear, single shuffle on the group key."""
    keys = ["doc_id"] + (["lang", "source"] if with_block else [])
    tok = d.select(
        *keys, F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
        for i in range(_MINHASH_K)
    ]
    return tok.groupBy(*keys).agg(*aggs)


@artifact("minhash_sig")
def minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature frame (doc_id, lang, source, mh0..mh{k-1}) for
    the documents table — the artifact the whole LSH dedup path reads: q_dedup_minhash_sig
    publishes it, q_dedup_lsh_candidates buckets it, and the
    incremental/ingest/store-compact loop filters its store/batch
    halves from it (per-doc signatures are split-independent, so
    filtering the one frame equals signing each half). At 100 TB the
    signature store IS a materialized table (the q_dedup_incremental
    docstring's store index)."""
    return _minhash_sig(
        table(spark, sf_dir, "documents"), with_block=True
    ).localCheckpoint()


def _band_key(b: int):
    return F.md5(
        F.concat(*[F.col(f"mh{i}") for i in range(b * _MINHASH_BAND, (b + 1) * _MINHASH_BAND)])
    )


# Shared DuckDB oracle fragments mirroring _minhash_sig/_band_key — one
# definition so a band-shape or tokenizer change lands everywhere at once
# (a missed copy would surface as a flaky parity hash mismatch, not a
# clean failure).
def _sig_cols_sql() -> str:
    """The k salted-md5 min signature columns (mirrors ``_minhash_sig``)."""
    return ",\n           ".join(
        f"min(md5('{i}:' || tok)) AS mh{i}" for i in range(_MINHASH_K)
    )


def _band_expr_sql(b: int) -> str:
    """Band ``b``'s md5-over-signature-slice key (mirrors ``_band_key``)."""
    return "md5({})".format(
        " || ".join(f"mh{i}" for i in range(b * _MINHASH_BAND, (b + 1) * _MINHASH_BAND))
    )


def _band_cols_sql() -> str:
    return ",\n           ".join(
        f"{_band_expr_sql(b)} AS band{b}" for b in range(_MINHASH_K // _MINHASH_BAND)
    )


def _band_rows_sql() -> str:
    """Unpivot of the ``bsig`` CTE's band columns into (band_idx, band_key)."""
    return "\n      UNION ALL ".join(
        f"SELECT doc_id, lang, source, {b} AS band_idx, band{b} AS band_key FROM bsig"
        for b in range(_MINHASH_K // _MINHASH_BAND)
    )


def _minhash_oracle() -> str:
    sigs = _sig_cols_sql()
    bands = _band_cols_sql()
    cols = ", ".join(f"mh{i}" for i in range(_MINHASH_K))
    return f"""
    WITH sig AS (
      SELECT doc_id,
           {sigs}
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id
    )
    SELECT doc_id, {cols},
           {bands}
    FROM sig
    """


@query("q_dedup_minhash_sig", oracle=_minhash_oracle())
def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k=8 MinHash signature + LSH band keys per document.

    The hash-checked half of the 100 TB MinHash dedup path (the rows-only
    ml.MinHashLSH candidate join is q_dedup_minhash): one explode + one
    groupBy with k min-aggregates — linear, single shuffle on doc_id —
    then band keys as md5 over signature slices. Near-dup candidates are
    docs sharing a band key (a groupBy on band{b}), never an all-pairs
    join. Salted md5 stands in for the permutation family so both engines
    compute bit-identical signatures.
    """
    sig = minhash_sig_table(spark, sf_dir)
    bands = [
        _band_key(b).alias(f"band{b}") for b in range(_MINHASH_K // _MINHASH_BAND)
    ]
    return sig.select("doc_id", *[f"mh{i}" for i in range(_MINHASH_K)], *bands)


def _lsh_candidates_oracle() -> str:
    sigs = _sig_cols_sql()
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, lang, source, {b} AS band_idx, "
        f"{_band_expr_sql(b)} AS band_key FROM sig"
        for b in range(_MINHASH_K // _MINHASH_BAND)
    )
    est = " + ".join(
        f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(_MINHASH_K)
    )
    return f"""
    WITH sig AS (
      SELECT doc_id, lang, source,
           {sigs}
      FROM (SELECT doc_id, lang, source,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id, lang, source
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.lang = b.lang AND a.source = b.source
       AND a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.n_shared_bands AS BIGINT) AS n_shared_bands,
           round(({est}) / {_MINHASH_K}.0, 6) AS jaccard_est
    FROM cand c
    JOIN sig sa ON c.doc_a = sa.doc_id
    JOIN sig sb ON c.doc_b = sb.doc_id
    """


@query("q_dedup_lsh_candidates", oracle=_lsh_candidates_oracle())
def q_dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from deterministic MinHash band keys, with the
    signature-agreement Jaccard estimate per pair.

    The full hash-checked LSH pipeline: signatures (linear groupBy) →
    band keys → candidates = docs sharing a band within a (lang, source)
    block — pair expansion INSIDE the band buckets (collect_list +
    combination explode), never an all-pairs join. Each doc's signature
    rides along into its buckets, so the tokenize + k-min signature
    subtree evaluates exactly ONCE; the earlier band self-join plus two
    signature re-joins evaluated it four times (Catalyst does not reuse
    the exchange across differently-aliased branches). The per-pair
    Jaccard estimate (fraction of agreeing components) is computed
    in-place from the carried signatures — 12 string compares per
    colliding band, trivially cheaper than re-deriving signatures.
    Bucket membership stays bounded: blocking by metadata bounds the
    fixture's degenerate band-collision rate (31-token vocabulary,
    memory: fixture-traps); on a real corpus the band collision
    probability (~jaccard^band_size) is what prunes the pair space and
    the block key can drop away entirely.
    """
    sig = minhash_sig_table(spark, sf_dir)
    n_bands = _MINHASH_K // _MINHASH_BAND
    bands = sig.select(
        "doc_id",
        "lang",
        "source",
        F.array(*[F.col(f"mh{i}") for i in range(_MINHASH_K)]).alias("mh"),
        F.posexplode(F.array(*[_band_key(b) for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    buckets = (
        bands.groupBy("lang", "source", "band_idx", "band_key")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "mh"))).alias("members"))
        .where(F.size("members") >= 2)
    )
    pair_rows = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members) - i - 1), "
                    "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                    "x.mh AS mha, y.mh AS mhb))))"
                )
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.size(
                F.filter(
                    F.zip_with("p.mha", "p.mhb", lambda x, y: x == y), lambda v: v
                )
            ).alias("agree"),
        )
    )
    return pair_rows.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_bands"),
        # every colliding band carries the same two signatures; max = the value
        F.round(F.max("agree") / float(_MINHASH_K), 6).alias("jaccard_est"),
    )


def _incremental_oracle() -> str:
    sigs = _sig_cols_sql()
    n_bands = _MINHASH_K // _MINHASH_BAND
    band_cols = _band_cols_sql()
    band_rows = _band_rows_sql()
    out_bands = ", ".join(f"band{b}" for b in range(n_bands))
    return f"""
    WITH sig AS (
      SELECT doc_id, lang, source,
           {sigs}
      FROM (SELECT doc_id, lang, source,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id, lang, source
    ),
    bsig AS (
      SELECT doc_id, lang, source,
           {band_cols}
      FROM sig
    ),
    bands AS (
      {band_rows}
    ),
    thr AS (SELECT max(doc_id) / 2 AS cut FROM documents),
    store AS (
      SELECT DISTINCT lang, source, band_idx, band_key
      FROM bands CROSS JOIN thr WHERE doc_id < cut
    ),
    hit AS (
      SELECT DISTINCT n.doc_id
      FROM bands n CROSS JOIN thr
      JOIN store s
        ON n.lang = s.lang AND n.source = s.source
       AND n.band_idx = s.band_idx AND n.band_key = s.band_key
      WHERE n.doc_id >= cut
    )
    SELECT b.doc_id, b.lang, b.source, {out_bands}
    FROM bsig b CROSS JOIN thr
    WHERE b.doc_id >= cut
      AND b.doc_id NOT IN (SELECT doc_id FROM hit)
    """


@query("q_dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production LLM-ingest shape: a NEW
    batch of documents is screened against the band-key store of an
    EXISTING corpus, and only docs whose LSH bands collide with no stored
    key are admitted. Output is the STORE DELTA for the admitted docs
    (doc_id + block key + their band keys), i.e. exactly the rows the
    next ingest round appends to the store before screening its batch.

    The corpus/batch split is deterministic — doc ids are arrival-ordered
    in the fixture, so corpus = ids below max/2, batch = the newer half —
    which keeps the whole loop oracle-able in pure SQL. (A parity split
    was measured degenerate: the fixture's dup families sit at doc_id ≡ r
    mod 20, so mod-class splits never cross corpus and batch and every
    doc is admitted — memory: fixture-traps.) In production the store is
    a materialized table and only the batch side is computed. Plan shape:
    the store is DISTINCT band keys (collisions across corpus docs
    collapse — the store is keyed by band, not by doc), the batch
    signature frame builds once (one explode + one groupBy, then
    localCheckpoint so its two consumers don't recompute the tokenize
    subtree), the screen is one semi join on the band key followed by a
    doc-level anti join. At 100 TB the store is bucketed by band_key, the
    batch is the small side, and both joins shuffle batch-sized frames
    only — the corpus is never rescanned (q_dedup_minhash_sig builds its
    half of the store; blocking by (lang, source) mirrors
    q_dedup_lsh_candidates, memory: fixture-traps).
    """
    d = table(spark, sf_dir, "documents")
    n_bands = _MINHASH_K // _MINHASH_BAND
    # arrival-order split: one max() scalar, broadcast into both filters
    # (in production this is the ingest watermark, not a computed value).
    # Both halves filter the ONE session-materialized signature table —
    # per-doc signatures are split-independent, so sig(half) == sig.where
    cut = d.agg((F.max("doc_id") / 2).alias("cut"))
    sig_all = minhash_sig_table(spark, sf_dir).crossJoin(F.broadcast(cut))
    corpus_sig = sig_all.where(F.col("doc_id") < F.col("cut"))
    store = (
        corpus_sig.select(
            "lang",
            "source",
            F.posexplode(F.array(*[_band_key(b) for b in range(n_bands)])).alias(
                "band_idx", "band_key"
            ),
        )
        .distinct()
    )
    bsig = (
        sig_all.where(F.col("doc_id") >= F.col("cut"))
        .select(
            "doc_id",
            "lang",
            "source",
            *[_band_key(b).alias(f"band{b}") for b in range(n_bands)],
        )
        .localCheckpoint(eager=True)  # feeds the probe AND the output
    )
    probe = bsig.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    hit = (
        probe.join(store, ["lang", "source", "band_idx", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return bsig.join(hit, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", *[f"band{b}" for b in range(n_bands)]
    )


def _ingest_oracle() -> str:
    sigs = _sig_cols_sql()
    band_cols = _band_cols_sql()
    band_rows = _band_rows_sql()
    return f"""
    WITH sig AS (
      SELECT doc_id, lang, source,
           {sigs}
      FROM (SELECT doc_id, lang, source,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id, lang, source
    ),
    bsig AS (
      SELECT doc_id, lang, source,
           {band_cols}
      FROM sig
    ),
    bands AS (
      {band_rows}
    ),
    thr AS (SELECT max(doc_id) / 2 AS cut FROM documents),
    store AS (
      SELECT DISTINCT lang, source, band_idx, band_key
      FROM bands CROSS JOIN thr WHERE doc_id < cut
    ),
    hit AS (
      SELECT DISTINCT n.doc_id
      FROM bands n CROSS JOIN thr
      JOIN store s
        ON n.lang = s.lang AND n.source = s.source
       AND n.band_idx = s.band_idx AND n.band_key = s.band_key
      WHERE n.doc_id >= cut
    ),
    firsts AS (
      SELECT lang, source, band_idx, band_key, min(doc_id) AS first_id
      FROM bands CROSS JOIN thr WHERE doc_id >= cut
      GROUP BY 1, 2, 3, 4
    ),
    earlier AS (
      SELECT DISTINCT n.doc_id
      FROM bands n CROSS JOIN thr
      JOIN firsts f
        ON n.lang = f.lang AND n.source = f.source
       AND n.band_idx = f.band_idx AND n.band_key = f.band_key
      WHERE n.doc_id >= cut AND f.first_id < n.doc_id
    )
    SELECT b.doc_id, b.lang, b.source,
           CASE WHEN b.doc_id IN (SELECT doc_id FROM hit) THEN 'store_dup'
                WHEN b.doc_id IN (SELECT doc_id FROM earlier) THEN 'batch_dup'
                ELSE 'admitted' END AS disposition
    FROM bsig b CROSS JOIN thr WHERE b.doc_id >= cut
    """


@query("q_dedup_ingest", oracle=_ingest_oracle())
def q_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE ingest-dedup disposition report — q_dedup_incremental's
    store screen composed with the batch-internal pass it deliberately
    leaves out: every batch doc is tagged `store_dup` (some LSH band
    collides with the historical signature store), `batch_dup` (survived
    the store screen but band-collides with an EARLIER-ARRIVED batch doc
    — arrival order = doc_id, first arrival claims the bucket), or
    `admitted`. This is the audit log a production ingest writes: the
    admitted set moves on, the two rejected sets are counted per source
    for the corpus-health dashboard.

    Batch-internal semantics are the conservative greedy rule: a doc is
    `batch_dup` if ANY lower-id batch doc shares a band bucket, whether
    or not that doc itself gets admitted (a sequential state-store dedup
    would re-admit the dup of a rejected doc; the set-based rule stays
    order-deterministic, one-pass, and never admits a dup of a kept
    doc). Earlier-collider detection is bucket-min arithmetic, NOT a
    pair self-join: per (block, band) bucket compute min(doc_id) once,
    then a doc collides-earlier iff the min over its buckets is below
    its own id — O(|batch bands|) with no pair materialization at all,
    which is the trick that keeps the batch pass linear even when a
    bucket holds thousands of mutual dups (a pair join would go
    quadratic in exactly that hot-bucket case). Store screen plan is
    q_dedup_incremental's: distinct store bands, one semi join, one
    doc-level disposition join; at 100 TB the store is bucketed by
    band_key and only batch-sized frames shuffle.
    """
    return ingest_disposition_for(
        table(spark, sf_dir, "documents"),
        sig=minhash_sig_table(spark, sf_dir),
    )


def ingest_disposition_for(d: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """q_dedup_ingest's plan over any (doc_id, lang, source, text) frame
    — shared by the declared query (which passes the session-
    materialized ``sig`` = minhash_sig_table; per-doc signatures are
    split-independent, so filtering the one frame equals signing each
    half) and scripts/scaling_probe.py (fresh build)."""
    n_bands = _MINHASH_K // _MINHASH_BAND
    cut = d.agg((F.max("doc_id") / 2).alias("cut"))
    if sig is None:
        sig = _minhash_sig(d, with_block=True)
    sig = sig.crossJoin(F.broadcast(cut))
    corpus_sig = sig.where(F.col("doc_id") < F.col("cut"))
    store = (
        corpus_sig.select(
            "lang",
            "source",
            F.posexplode(F.array(*[_band_key(b) for b in range(n_bands)])).alias(
                "band_idx", "band_key"
            ),
        )
        .distinct()
    )
    bsig = (
        sig.where(F.col("doc_id") >= F.col("cut"))
        .select(
            "doc_id",
            "lang",
            "source",
            *[_band_key(b).alias(f"band{b}") for b in range(n_bands)],
        )
        .localCheckpoint(eager=True)  # feeds probe AND the output frame
    )
    probe = bsig.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    keys = ["lang", "source", "band_idx", "band_key"]
    hit = (
        probe.join(store, keys, "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("in_store", F.lit(1))
    )
    firsts = probe.groupBy(*keys).agg(F.min("doc_id").alias("first_id"))
    earlier = (
        probe.join(firsts, keys)
        .where(F.col("first_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("has_earlier", F.lit(1))
    )
    return (
        bsig.select("doc_id", "lang", "source")
        .join(hit, "doc_id", "left")
        .join(earlier, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("in_store") == 1, "store_dup")
            .when(F.col("has_earlier") == 1, "batch_dup")
            .otherwise("admitted")
            .alias("disposition"),
        )
    )


def _store_compact_oracle() -> str:
    sigs = _sig_cols_sql()
    band_cols = _band_cols_sql()
    band_rows = _band_rows_sql()
    return f"""
    WITH sig AS (
      SELECT doc_id, lang, source,
           {sigs}
      FROM (SELECT doc_id, lang, source,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents)
      GROUP BY doc_id, lang, source
    ),
    bsig AS (
      SELECT doc_id, lang, source,
           {band_cols}
      FROM sig
    ),
    bands AS (
      {band_rows}
    ),
    thr AS (SELECT max(doc_id) / 2 AS cut FROM documents),
    bmin AS (
      SELECT lang, source, band_idx, band_key, min(doc_id) AS first_id
      FROM bands GROUP BY 1, 2, 3, 4
    ),
    blockers AS (
      SELECT b.doc_id, min(m.first_id) AS blocker_id
      FROM bands b
      JOIN bmin m
        ON b.lang = m.lang AND b.source = m.source
       AND b.band_idx = m.band_idx AND b.band_key = m.band_key
      WHERE m.first_id < b.doc_id
      GROUP BY b.doc_id
    )
    SELECT s.doc_id, s.lang, s.source,
           CASE WHEN s.doc_id < t.cut THEN 'store' ELSE 'delta' END AS origin,
           CASE WHEN bl.blocker_id IS NULL THEN 'kept' ELSE 'evicted' END
             AS status,
           bl.blocker_id
    FROM bsig s CROSS JOIN thr t
    LEFT JOIN blockers bl ON s.doc_id = bl.doc_id
    """


@query("q_dedup_store_compact", oracle=_store_compact_oracle())
def q_dedup_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-store COMPACTION — the third leg of the ingest-dedup
    loop (q_dedup_incremental screens a batch against the store;
    q_dedup_ingest writes the disposition audit; this op periodically
    rewrites the accreted store itself). Ingest appends per-doc band
    rows round after round, and because the screen is append-time-only,
    redundant entries accumulate: docs admitted in different rounds can
    band-collide with each other once both sides' deltas have landed.
    Compaction merges the historical store with the newest delta (here:
    the deterministic arrival-order halves of the fixture corpus, same
    cut as q_dedup_incremental) and applies survivorship: within every
    (lang, source, band_idx, band_key) bucket the EARLIEST arrival
    (min doc_id) wins, and a doc survives iff NO band bucket holds an
    earlier doc. Output is the full audit the rewrite job emits — one
    row per store doc with its origin ('store' half vs 'delta' half),
    kept/evicted status, and for evicted docs the blocker (the earliest
    colliding doc over all its buckets, the row a lineage UI points at);
    the kept rows ARE the compacted store.

    Survivorship is bucket-min arithmetic, never a pair join (the
    q_dedup_ingest trick): per-bucket min(doc_id), then per-doc
    min-of-mins below its own id — linear in |store bands| even when a
    hot bucket holds thousands of mutual dups. Compaction reads ONLY
    signatures: at 100 TB the store is a band-bucketed table orders of
    magnitude smaller than the corpus, the bucket-min aggregate
    partial-combines map-side on the store's own bucketing, and the
    corpus text is never rescanned (the fixture rebuilds sigs from text
    only because no materialized store ships with the test data —
    production swaps ``_minhash_sig`` for a store scan).
    """
    return store_compact_for(
        table(spark, sf_dir, "documents"),
        sig=minhash_sig_table(spark, sf_dir),
    )


def store_compact_for(d: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """Frame-parameterized body of q_dedup_store_compact over any
    (doc_id, lang, source, text) frame (scaling-probe hook); the
    declared query passes ``sig`` = the session-materialized
    minhash_sig_table."""
    n_bands = _MINHASH_K // _MINHASH_BAND
    cut = d.agg((F.max("doc_id") / 2).alias("cut"))
    if sig is None:
        sig = _minhash_sig(d, with_block=True)
    tagged = (
        sig
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "lang",
            "source",
            *[_band_key(b).alias(f"band{b}") for b in range(n_bands)],
            F.when(F.col("doc_id") < F.col("cut"), "store")
            .otherwise("delta")
            .alias("origin"),
        )
        .localCheckpoint(eager=True)  # feeds the bucket pass AND the output
    )
    bands = tagged.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    keys = ["lang", "source", "band_idx", "band_key"]
    bmin = bands.groupBy(*keys).agg(F.min("doc_id").alias("first_id"))
    blockers = (
        bands.join(bmin, keys)
        .where(F.col("first_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("first_id").alias("blocker_id"))
    )
    return (
        tagged.select("doc_id", "lang", "source", "origin")
        .join(blockers, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "origin",
            F.when(F.col("blocker_id").isNull(), "kept")
            .otherwise("evicted")
            .alias("status"),
            "blocker_id",
        )
    )


_CC_MAX_ROUNDS = 20  # with pointer doubling this covers diameter ~2**20


def _connected_components(edges: DataFrame, max_rounds: int = _CC_MAX_ROUNDS) -> DataFrame:
    """Min-label connected components over a bidirectional ``(src, dst)``
    edge frame; returns ``(doc_id, cluster_id)`` for every endpoint.

    Labels are seeded with min(self ∪ neighbors) in a single aggregation
    (a free first hop: at round 0 a node's label is its id, so no
    label-join is needed). Each subsequent round is hop + jump:
    - *hop*: pull labels across one edge and take the min with the own
      label (one equi-join + groupBy-min). The incumbent label rides
      along as ``old`` so convergence is a filter-count on the already
      materialized frame — no extra join job per round, and a hop
      fixpoint implies labels are constant per component, so the confirm
      round exits before its jump.
    - *jump* (pointer doubling): replace each label by its label's label
      via a self-join. Labels only ever hold endpoint doc_ids (the seed
      is the endpoint set and min never invents values), so the inner
      self-join keys always resolve.

    Both steps are monotone non-increasing and bounded by the component
    min, and the jump doubles propagation reach, so rounds needed are
    O(log diameter) instead of O(diameter) — ``max_rounds`` = 20 covers
    diameters up to ~2**20. If the cap is ever hit before the fixpoint,
    this *raises* instead of silently returning partial clusters (the
    at-scale failure mode is wrong dedup survivors, not slowness). Label
    lineage is truncated every round with a lazy localCheckpoint that the
    convergence count materializes — one Spark job per round.
    """
    # Seed with min(self ∪ neighbors): at round 0 every node's label IS
    # its id, so the usual hop's label-join is the identity — the whole
    # first hop collapses to one aggregation over the edge list (dst
    # value == dst's label), saving a full join round.
    labels = (
        edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
        .unionByName(
            edges.select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    # superseded checkpoint of the previous round, freed for real once
    # the current round's convergence count has materialized past it
    # (DataFrame.unpersist would be a CacheManager no-op — ADVICE r11;
    # same discipline as the BPE trainer). Without this every round
    # pins a |labels|-row RDD until driver GC — O(log diameter) rounds
    # of corpus-scale frames on a long-diameter graph.
    prev_cp = labels
    for _ in range(max_rounds):
        neighbor = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), "cluster_id", F.lit(None).cast("long").alias("old"))
        )
        hopped = (
            labels.select("doc_id", "cluster_id", F.col("cluster_id").alias("old"))
            .unionByName(neighbor)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"), F.min("old").alias("old"))
            .localCheckpoint(eager=False)
        )
        # Convergence is checked on the HOP, before the jump: a hop
        # fixpoint means label(u) <= label(v) across every (bidirectional)
        # edge, i.e. labels are constant per component — which makes the
        # jump a provable no-op, so the confirm round skips its self-join.
        # The count is also the action that materializes this round's
        # lazy localCheckpoint (one Spark job per round).
        changed = hopped.where(F.col("cluster_id") != F.col("old")).count()
        # the count materialized `hopped`; the previous round's
        # checkpoint (read through the jump join) is now dead
        if prev_cp is not None:
            free_local_checkpoint(prev_cp)
        prev_cp = hopped
        if changed == 0:
            return hopped.select("doc_id", "cluster_id")
        # jump (pointer doubling): label <- label's label. Labels only
        # ever hold endpoint doc_ids (the seed draws from the endpoint
        # set and min never invents values), so the inner self-join keys
        # always resolve; materialized by the NEXT round's count.
        labels = (
            hopped.alias("a")
            .join(
                hopped.select(
                    F.col("doc_id").alias("jid"), F.col("cluster_id").alias("jlab")
                ).alias("b"),
                F.col("a.cluster_id") == F.col("b.jid"),
            )
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.least(F.col("a.cluster_id"), F.col("b.jlab")).alias("cluster_id"),
            )
        )
    raise RuntimeError(
        f"connected components did not converge within {max_rounds} rounds "
        f"({changed} labels still changing) — component diameter exceeds "
        f"2**{max_rounds}; raise max_rounds rather than trusting partial clusters"
    )


@query(
    "q_dedup_cluster",
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
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the Jaccard>=0.8
    near-dup pair graph, as iterative min-label propagation with pointer
    doubling (see :func:`_connected_components`).

    The dedup *completion* step: pairwise candidates become disjoint
    groups (keep one doc per cluster). Only docs that appear in some
    near-dup pair enter the iteration (singletons keep
    cluster_id = doc_id for free via the final left join), so the
    iterated frame is |docs-in-pairs|, not |docs| — at 100 TB the pair
    graph is orders of magnitude smaller than the corpus. The oracle
    computes the same unique fixpoint via a recursive CTE.
    """
    return dedup_clusters_table(spark, sf_dir)


@artifact("dedup_clusters")
def dedup_clusters_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels for the documents table — the (doc_id, cluster_id)
    frame all five cluster-riding queries read. At 100 TB cluster labels
    are a materialized table the whole curation pipeline consumes (dedup
    survivors, leakage-safe splits, dedup-aware mixtures all key on it).
    The build is the probed dedup_clusters_for body over the shared pair
    artifact; the |docs|-row result is localCheckpoint'ed."""
    return _clusters_from_pairs(
        table(spark, sf_dir, "documents"),
        neardup_pairs_table(spark, sf_dir).select("doc_a", "doc_b"),
    ).localCheckpoint()


def dedup_clusters_for(d: DataFrame, elements: DataFrame | None = None) -> DataFrame:
    """Frame-parameterized body of q_dedup_cluster (doc_id, cluster_id
    per input doc) so scripts/scaling_probe.py can measure the
    pair-build + pointer-doubling slope on replicated corpora.

    ``elements``: optional prebuilt :func:`_unigram_elements`(d) frame —
    q_split_incremental shares ONE materialized store element index
    between this CC body and its batch screen instead of tokenizing and
    exploding the store half twice (ADVICE r15 item 1)."""
    ex = _unigram_elements(d) if elements is None else elements
    pairs = _inverted_index_jaccard(ex, 0.8).select("doc_a", "doc_b")
    return _clusters_from_pairs(d, pairs)


def _clusters_from_pairs(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """CC labels over a (doc_a, doc_b) near-dup pair frame, left-joined
    back onto the doc spine (singletons keep cluster_id = doc_id) —
    shared by dedup_clusters_for (fresh pair build) and
    dedup_clusters_table (the session-materialized pair table)."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges.localCheckpoint(eager=True)
    labels = _connected_components(edges)
    return d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )


@query(
    "q_dedup_editdist",
    oracle="""
    WITH pairs AS (
      SELECT a.source,
             CAST(floor(a.n_chars / 100) AS BIGINT) AS len_bucket,
             a.doc_id AS doc_a, b.doc_id AS doc_b,
             levenshtein(substring(a.text, 1, 100),
                         substring(b.text, 1, 100)) AS dist
      FROM documents a JOIN documents b
        ON a.source = b.source
       AND floor(a.n_chars / 100) = floor(b.n_chars / 100)
       AND a.doc_id < b.doc_id
      WHERE a.lang = 'en' AND b.lang = 'en'
    )
    SELECT source, len_bucket, doc_a, doc_b, CAST(dist AS BIGINT) AS dist
    FROM (
      SELECT source, len_bucket, doc_a, doc_b, dist,
             row_number() OVER (PARTITION BY source, len_bucket
                                ORDER BY dist, doc_a, doc_b) AS rn
      FROM pairs
    ) WHERE rn = 1
    """,
)
def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest English pair per (source, length-bucket) block by
    100-char-prefix Levenshtein.

    Character-level near-dup verification: blocked pairwise levenshtein,
    deterministic argmin via window tiebreak (dist, doc_a, doc_b). Edit
    distance is quadratic in string length, so production systems bound
    it three ways, all shown here — block the pair space by metadata
    (source) AND by length bucket (a small edit distance forces similar
    lengths, so cross-bucket pairs are never near-dups; at corpus scale
    the block key is a SimHash/MinHash bucket, q_dedup_simhash /
    q_dedup_minhash), and bound the comparison to a fixed prefix
    (100 chars ⇒ ≤10⁴ DP cells per pair, independent of document
    length). Unbounded levenshtein over full fixture texts measured
    114 s at sf0.1; this blocked+bounded shape is <1 s.
    """
    # per-pair prefix-Levenshtein DP dominates: parallelize the scan
    # (measured -1.2 s at sf0.1 vs single-task; no-op on clusters)
    d = (
        fanout(table(spark, sf_dir, "documents"))
        .where(F.col("lang") == "en")
        .select(
            "doc_id",
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            F.substring("text", 1, 100).alias("prefix"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.source").alias("source"),
        F.col("a.len_bucket").alias("len_bucket"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).cast("long").alias("dist"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source", "len_bucket").orderBy("dist", "doc_a", "doc_b")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "len_bucket", "doc_a", "doc_b", "dist")
    )


_SPAN_K = 8  # token k-gram width for duplicated-span detection


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, n_toks, g.pos AS pos,
             md5(array_to_string(
               list_slice(t, g.pos + 1, g.pos + {_SPAN_K}), ' ')) AS g
      FROM toks, unnest(generate_series(0, n_toks - {_SPAN_K})) AS g(pos)
      WHERE n_toks >= {_SPAN_K}
    ),
    dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1
    ),
    hits AS (
      SELECT gr.doc_id, gr.n_toks, gr.pos FROM grams gr JOIN dup USING (g)
    ),
    isl AS (
      SELECT doc_id, n_toks, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_SPAN_K - 1}
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    isl2 AS (
      SELECT doc_id, n_toks, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, n_toks, island,
             max(pos) - min(pos) + {_SPAN_K} AS span_len
      FROM isl2 GROUP BY doc_id, n_toks, island
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(max(span_len) AS BIGINT) AS max_span,
           round(sum(span_len) / CAST(n_toks AS DOUBLE), 6) AS dup_frac
    FROM spans GROUP BY doc_id, n_toks
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring detection: maximal cross-document duplicated
    token *spans* per document (exact-substring dedup signal, the
    "dedup training data at the substring level" mechanism).

    Differs from q_dedup_chunkdup (fixed non-overlapping chunks) in that
    spans are alignment-free: every sliding 8-token gram is
    fingerprinted, grams occurring in >1 distinct document are marked,
    and per-document runs of marked positions whose coverage windows
    touch (gap <= k-1) merge into maximal spans via gaps-and-islands.
    Output: per flagged doc, span count, longest span, covered-token
    fraction.

    Scale shape: gram explode is linear in corpus tokens (one row per
    token, ~1x amplification at stride 1); the dup set is one hash
    aggregate on 16-byte digests; membership is a digest equi-join; the
    island merge is a per-doc window (shuffle key doc_id — uniform). No
    pairwise doc joins anywhere, so the plan is oblivious to how many
    documents share a span. At 100 TB the only global state is the
    duplicated-digest set; everything else partitions by doc_id.

    r17: input fanned out — the stride-1 gram explode otherwise
    serializes on the one-row-group local fixture (measured ~1.18×
    warm at sf0.1; no-op on multi-split cluster layouts).
    """
    return substring_spans(fanout(table(spark, sf_dir, "documents")))


def substring_spans(d: DataFrame) -> DataFrame:
    """Core of :func:`q_dedup_substring` over any ``(doc_id, text)``
    frame — separated so the scaling probe can run it on replicated
    corpora."""
    from pyspark.sql import Window

    t = F.split("text", " ")
    toks = d.select("doc_id", t.alias("t"), F.size(t).alias("n_toks"))
    grams = (
        toks.where(F.col("n_toks") >= _SPAN_K)
        .select(
            "doc_id",
            "n_toks",
            "t",
            F.explode(
                F.sequence(F.lit(0), (F.col("n_toks") - _SPAN_K).cast("int"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "n_toks",
            "pos",
            # xxhash64, not md5: the gram digest is INTERNAL (the oracle
            # recomputes its own grams; only per-doc stats are compared),
            # so an 8-byte long shuffle key beats a 32-char digest string
            F.xxhash64(
                F.array_join(F.slice("t", F.col("pos") + 1, F.lit(_SPAN_K)), " ")
            ).alias("g"),
        )
    )
    # "appears in >1 distinct doc" == min(doc_id) != max(doc_id): plain
    # partial min/max aggregation, no distinct expansion
    dup = (
        grams.groupBy("g")
        .agg((F.min("doc_id") != F.max("doc_id")).alias("crossdoc"))
        .where(F.col("crossdoc"))
        .select("g")
    )
    hits = grams.join(dup, "g").select("doc_id", "n_toks", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= F.lit(_SPAN_K - 1), F.lit(0)
    ).otherwise(F.lit(1))
    islands = hits.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "n_toks", "island").agg(
        (F.max("pos") - F.min("pos") + _SPAN_K).alias("span_len")
    )
    return (
        spans.groupBy("doc_id", "n_toks")
        .agg(
            F.count("*").alias("n_spans"),
            F.max("span_len").cast("long").alias("max_span"),
            F.sum("span_len").alias("covered"),
        )
        .select(
            "doc_id",
            "n_spans",
            "max_span",
            F.round(F.col("covered") / F.col("n_toks").cast("double"), 6).alias(
                "dup_frac"
            ),
        )
    )


_BLOOM_M = 1 << 20  # bloom bits; 16384 64-bit words (~128 KB broadcast)
_BLOOM_SEEDS = (1, 2, 3, 4)


def _bloom_pos(s: int) -> str:
    return f"pmod(xxhash64(d, {s}), {_BLOOM_M})"


def _bloom_member_sql() -> str:
    """AND-of-k bit tests against the broadcast `bloom` map column."""
    conds = []
    for s in _BLOOM_SEEDS:
        word = f"shiftright({_bloom_pos(s)}, 6)"
        mask = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({_bloom_pos(s)}, 64) AS INT))"
        conds.append(
            f"(coalesce(element_at(bloom, {word}), CAST(0 AS BIGINT)) & {mask}) != 0"
        )
    return " AND ".join(conds)


@query(
    "q_dedup_bloom",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, source,
             md5(array_to_string(
               list_slice(string_split(text, ' '),
                          c.chunk_id * 16 + 1, c.chunk_id * 16 + 16), ' ')) AS cm
      FROM (SELECT doc_id, source, text,
                   len(string_split(text, ' ')) AS n FROM documents),
           unnest(generate_series(0, CAST(floor((n - 1) / 16) AS INT))) AS c(chunk_id)
    ),
    a AS (
      SELECT DISTINCT cm FROM chunks
      WHERE source IN ({", ".join(f"'src{i}'" for i in range(10))})
    )
    SELECT c.doc_id, c.source, count(*) AS n_leaked
    FROM chunks c JOIN a USING (cm)
    WHERE c.source NOT IN ({", ".join(f"'src{i}'" for i in range(10))})
    GROUP BY c.doc_id, c.source
    """,
)
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus leakage screen with a Bloom-filter prefilter: which
    tier-B documents (src10-19) contain a 16-token chunk that also
    appears anywhere in tier A (src0-9), and how many such chunks each.

    The RESULT is exact (and oracle-checked): the Bloom stage only
    prunes. The filter itself is built distributed, in pure DataFrame
    ops — k=4 seeded xxhash64 positions per tier-A chunk digest,
    explode → groupBy word → bit_or(mask) → one map_from_entries row
    (≤16384 entries, ~128 KB) — then broadcast, so the tier-B scan
    tests membership as a codegen'd projection (AND of k bit probes
    into the map) with NO shuffle of B. Only surviving candidates
    (true leaks + ~5e-4 false-positive rate at fixture load) enter the
    exact digest join that confirms them.

    At 100 TB this is the shape that matters: corpus B never shuffles
    on content, the broadcast state is m/8 bytes regardless of |A|'s
    row width (size m from |A| to hold the fp rate), and the exact
    join's input is the leak set, not the corpus.
    """
    d = table(spark, sf_dir, "documents")
    tier_a = [f"src{i}" for i in range(10)]
    t = F.split("text", " ")
    chunked = d.select(
        "doc_id",
        "source",
        t.alias("t"),
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size(t) - 1) / 16).cast("int"))
        ).alias("chunk_id"),
    )
    piece = F.slice("t", F.col("chunk_id") * 16 + 1, 16)
    chunks = chunked.select(
        "doc_id", "source", F.xxhash64(F.array_join(piece, " ")).alias("d")
    )
    a_dig = chunks.where(F.col("source").isin(*tier_a)).select("d").distinct()

    terms = a_dig.selectExpr(
        *[
            f"named_struct('word', shiftright({_bloom_pos(s)}, 6), "
            f"'mask', shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod({_bloom_pos(s)}, 64) AS INT))) AS t{s}"
            for s in _BLOOM_SEEDS
        ]
    )
    words = (
        terms.select(
            F.explode(F.array(*[f"t{s}" for s in _BLOOM_SEEDS])).alias("t")
        )
        .select("t.word", "t.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )

    b_chunks = chunks.where(~F.col("source").isin(*tier_a))
    cand = b_chunks.crossJoin(F.broadcast(bloom)).where(F.expr(_bloom_member_sql()))
    return (
        cand.join(a_dig, "d")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_leaked"))
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH sets AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks))
               / least(len(a.toks), len(b.toks)) AS c
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ),
    sides AS (
      SELECT doc_a AS doc_id, c FROM pairs WHERE c >= 0.9
      UNION ALL
      SELECT doc_b AS doc_id, c FROM pairs WHERE c >= 0.9
    )
    SELECT doc_id,
           count(*) AS n_containers,
           round(max(c), 6) AS max_containment
    FROM sides GROUP BY doc_id
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document set-containment screen: for each doc, how many
    near-superset/subset partners it has (containment >= 0.9) and the
    strongest one.

    Containment |A∩B| / min(|A|,|B|) is the asymmetric cousin of Jaccard
    — it catches a short doc embedded verbatim-ish inside a longer one,
    which Jaccard under-scores (the union is dominated by the longer
    doc). Same blocked inverted-index topology as
    :func:`_inverted_index_jaccard` (equi-join on element inside a
    (lang, source) block, sizes joined onto the pair frame) but kept as
    its own pipeline: the pair-level formula and the per-document
    aggregate differ, and folding a parameter into the shared helper
    would force a re-grade of the whole graded Jaccard family for a
    value-preserving refactor (registry.py grading-budget discipline).
    Output is bounded by |documents|, never |pairs|. At corpus scale the
    block key swaps for a MinHash band exactly as the Jaccard docstring
    describes.

    r17: the element frame comes from the shared session-materialized
    :func:`unigram_elements_table` — the self-join reads a checkpoint
    twice instead of evaluating the tokenize+explode subtree twice per
    call (measured 1.75 → 1.07 s warm at sf0.1; values identical).
    """
    ex = unigram_elements_table(spark, sf_dir)
    counts = ex.groupBy("doc_id").agg(F.count("*").alias("n_elems"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.el") == F.col("b.el"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    pairs = (
        inter.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("n_elems").alias("na")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("n_elems").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / F.least("na", "nb")).alias("c"),
        )
        .where(F.col("c") >= 0.9)
    )
    sides = pairs.select(F.col("doc_a").alias("doc_id"), "c").unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"), "c")
    )
    return sides.groupBy("doc_id").agg(
        F.count("*").alias("n_containers"),
        F.round(F.max("c"), 6).alias("max_containment"),
    )


@query(
    "q_dedup_degree",
    oracle="""
    WITH sets AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / (len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks))) >= 0.8
    ),
    deg AS (
      SELECT doc_id, count(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT CAST(coalesce(g.degree, 0) AS BIGINT) AS degree,
           count(*) AS n_docs
    FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id
    GROUP BY 1
    """,
)
def q_dedup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree histogram: how many docs have 0, 1, 2, …
    near-duplicates (Jaccard >= 0.8 pairs, the q_sim_jaccard graph) —
    the corpus-health diagnostic read BEFORE running dedup at scale: a
    heavy tail here predicts giant connected components (one boilerplate
    template duplicated 10⁶ times becomes a 10⁶-degree hub whose cluster
    materializes 10¹² candidate pairs under any pairwise scheme), and is
    the signal to tighten bands / split blocks first. Degree-0 mass is
    the fraction of the corpus dedup will never touch — the number that
    sizes the savings estimate.

    Shape: pair endpoints re-keyed and counted (map-side combine), one
    left join against the doc spine for the zero-degree mass, one
    |degrees|-row histogram aggregate. The pair frame is the session-
    materialized near-dup pair table (neardup_pairs_table) every dedup
    consumer here shares — nothing new materializes beyond it.
    """
    d = table(spark, sf_dir, "documents")
    pairs = neardup_pairs_table(spark, sf_dir).select("doc_a", "doc_b")
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        d.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).cast("long").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_dedup_cluster_stats",
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
    sized AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      FROM clusters GROUP BY cluster_id
    ),
    bucketed AS MATERIALIZED (
      SELECT CASE WHEN sz = 1 THEN 'singleton'
                  WHEN sz = 2 THEN 'pair'
                  WHEN sz <= 5 THEN 'small_3_5'
                  ELSE 'large_6_plus' END AS size_bucket,
             sz
      FROM sized
    ),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM bucketed)
    SELECT size_bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(max(sz) AS BIGINT) AS max_size,
           round(CAST(sum(sz) AS DOUBLE) / n, 6) AS doc_frac
    FROM bucketed CROSS JOIN tot
    GROUP BY size_bucket, n
    """,
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: the near-dup CLUSTER SIZE histogram —
    per size bucket (singleton / pair / 3-5 / 6+): cluster count, doc
    count, largest cluster, and the corpus share. The one-page answer to
    'how much would dedup shrink this corpus, and is the duplication
    long-tail pairs or a few mega-clusters?' — the number that decides
    whether survivor-keep dedup (q_dedup_survivor) is a ~N% trim or a
    rewrite, and the mega-cluster flag that usually means boilerplate
    (q_text_boilerplate) rather than true duplication. Complements
    q_mix_dedup_aware, which reports the TOKEN view per source; this is
    the structural view over the whole corpus.

    Scale shape: reads the session-materialized cluster-label table
    (dedup_clusters_table — built once per session by the probed
    dedup_clusters_for body: blocked pair build + pointer-doubling CC,
    10.3x wall at 100x data),
    then a |docs|-row groupBy(cluster_id) count, a |clusters|-row bucket
    map, a metadata-sized bucket aggregate and a 1-row broadcast total.
    Exactness: sizes and counts are int64; doc_frac is one IEEE division
    of exact ints, 6-dp rounded on both engines.
    """
    sized = (
        dedup_clusters_table(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
    )
    bucketed = sized.select(
        F.when(F.col("sz") == 1, "singleton")
        .when(F.col("sz") == 2, "pair")
        .when(F.col("sz") <= 5, "small_3_5")
        .otherwise("large_6_plus")
        .alias("size_bucket"),
        "sz",
    ).localCheckpoint()
    tot = bucketed.agg(F.sum("sz").alias("n"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("size_bucket", "n")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.max("sz").alias("max_size"),
        )
        .select(
            "size_bucket",
            "n_clusters",
            "n_docs",
            "max_size",
            F.round(F.col("n_docs").cast("double") / F.col("n"), 6).alias("doc_frac"),
        )
    )
