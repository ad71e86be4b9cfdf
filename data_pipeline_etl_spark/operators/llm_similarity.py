"""Group J — similarity search over embeddings (SURVEY.md §2.J).

Numeric discipline (SURVEY.md §1.3 #3): embeddings are float32; every
similarity is computed as an explicit *sequential left fold in float64*
(`aggregate(zip_with(...))` on Spark, `list_sum(list_transform(...))` on
DuckDB) so both engines produce bit-identical dot products, then rounded
to 6 dp. DuckDB's builtin list_cosine_similarity is NOT used — it folds in
float32 and diverges at the 8th decimal.

Performance note: Spark's array higher-order functions are interpreted
(not whole-stage-codegen'd), so each fold costs real CPU. Every query here
therefore precomputes each vector's L2 norm ONCE on the (linear) input and
carries it through the join, leaving exactly one dot-product fold per
candidate pair — measured 3× faster than folding q·q, c·c and q·c per
pair. The oracles recompute norms inline; both orders produce bit-identical
doubles, so parity is unaffected.

Scale story:
- q_sim_cosine_topk: brute-force exact top-k — the baseline. The (tiny)
  query set is broadcast; candidates stream through one stage; the
  per-query top-k is a window over qid (shuffle on qid only).
- q_sim_ivf_topk: IVF-style ANN — candidates restricted to the query's
  coarse cell (here: the ``label`` column as the quantization cell).
  At 100 TB, cells are k-means centroids and pruning is a partition filter.
- q_sim_neardup: LSH-banded nearest neighbor (embedding near-dup);
  candidates come from random-hyperplane band buckets whose size is
  bounded by the collision probability (and tunable via bits-per-band),
  never from a fixed low-cardinality metadata key — the blocked join
  stays sub-quadratic at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_etl_spark.checkpoints import free_local_checkpoint
from data_pipeline_etl_spark.operators.materialized import artifact
from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import fanout, table


def dot64(a: str, b: str) -> Column:
    """Sequential float64 fold of a float32 vector dot product (Spark).

    PRECONDITION (shared with _dot_sql, its DuckDB twin — ADVICE r14):
    no NULL ELEMENTS inside the arrays. On a NULL element this fold
    returns NULL for the whole dot product (acc + NULL = NULL), while
    DuckDB's list_sum SKIPS NULL elements — a silent parity divergence,
    not an error. NULL at the COLUMN level is fine (both sides yield
    NULL). The fixtures' embeddings are dense by construction
    (TESTDATA.md); any future consumer feeding sparse/NULL-padded
    vectors must coalesce elements first, on both sides.
    """
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_sql(a: str, b: str) -> str:
    """The DuckDB twin of dot64: same element order, same float64 fold.

    Same no-NULL-elements precondition as dot64 (whose docstring has the
    divergence mechanics): list_sum skips NULL elements where the Spark
    fold propagates them.
    """
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


_COS_SQL = (
    f"round({_dot_sql('qe', 'ce')} / "
    f"(sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})), 6)"
)


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + per-vector L2 norm, computed once (linear pass)."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", "embedding", F.sqrt(dot64("embedding", "embedding")).alias("nrm")
    )


def _cos_pair() -> Column:
    """Cosine from a prejoined row carrying qe/qn and ce/cn."""
    return F.round(dot64("qe", "ce") / (F.col("qn") * F.col("cn")), 6)


@query(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.q_id, c.vec_id, c.embedding AS ce, q.qe,
             {_COS_SQL} AS cos_sim
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5
    """,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id ∈ [0,5)."""
    base = _normed(spark, sf_dir)
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    cand = base.select("vec_id", F.col("embedding").alias("ce"), F.col("nrm").alias("cn"))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("q_id", "vec_id", "cos_sim", "rn")
    )


@query(
    "q_sim_knn_label",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.q_id, c.vec_id, c.label,
             {_COS_SQL} AS cos_sim
      FROM (SELECT vec_id, label, embedding AS ce FROM embeddings) c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    knn AS (
      SELECT q_id, label FROM (
        SELECT q_id, label,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT q_id, label, count(*) AS n_votes FROM knn GROUP BY q_id, label
    )
    SELECT q_id, label AS pred_label, n_votes FROM (
      SELECT q_id, label, n_votes,
             row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
)
def q_sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority label vote for query vectors vec_id ∈ [0,20).

    r17: base fanned out (the q_sim_cosine_topk pattern) — the per-pair
    cosine folds otherwise serialize on the one-row-group fixture
    (measured 1.28× warm at sf0.1; no-op on multi-split layouts)."""
    base = fanout(_normed(spark, sf_dir))
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    cand = base.select(
        "vec_id", "label", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "label", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    knn = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    votes = knn.groupBy("q_id", "label").agg(F.count("*").alias("n_votes"))
    vw = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )


@query(
    "q_sim_ivf_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS qe
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.q_id, c.vec_id,
             {_COS_SQL} AS cos_sim
      FROM (SELECT vec_id, label, embedding AS ce FROM embeddings) c
        JOIN q ON c.label = q.q_label
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 3
    """,
)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: search only the query's coarse cell (label bucket).

    The candidate set shrinks by ~|cells|× versus brute force; the join on
    the cell id is the partition-pruning step of a real IVF index.
    """
    base = _normed(spark, sf_dir)
    q = base.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        "vec_id", "label", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.join(F.broadcast(q), cand.label == q.q_label)
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("q_id", "vec_id", "cos_sim", "rn")
    )


# Random-hyperplane LSH parameters (q_sim_neardup). Plane components are a
# deterministic integer hash mapped to [-1, 1), so BOTH engines
# materialize bit-identical hyperplanes with zero side tables. Sign bits
# pack into _LSH_BANDS bands of _LSH_ROWS bits: a candidate pair must
# agree on all 8 bits of some band. P(band collision) = (1 - θ/π)^8 —
# near-duplicates (θ→0) collide with probability →1, random pairs
# (θ≈π/2) at ~0.4% per band, so bucket sizes track the number of actual
# near-dup pairs, not a fixed fraction of the corpus, and the blocked
# join stays sub-quadratic at any scale (tighten by raising _LSH_ROWS as
# the corpus grows — occupancy, not bucket count, is the invariant; see
# BASELINE.md scaling probe).
#
# Hash structure matters (r6 fix): the original v = ((j*8191 + i) * K)
# % 1021 is AFFINE in (j, i) — plane j is the single base vector
# (i*K % 1021) shifted by the scalar (j*8191*K % 1021) in mod space, so
# the 32 "planes" were strongly correlated and random-pair collisions ran
# ~9x the independent-plane rate (measured 271k candidate pairs at 2k
# vectors vs the 31k ideal), inflating the rescore join everywhere.
# Squaring v breaks the separability (the 2·a_j·b_i cross term makes
# plane differences i-dependent): measured 37k pairs at 2k vectors and
# planted-pair recall 0.954 -> 0.98. v <= 1020, so v*v + v + j stays
# ~1e6 — no overflow anywhere near int64.
_LSH_BANDS = 4
_LSH_ROWS = 8
_LSH_PLANES = _LSH_BANDS * _LSH_ROWS

_V_SQL = "(((j * 8191 + i) * 2654435761) % 1021)"
_PLANE_SQL = (
    f"(CAST(({_V_SQL} * {_V_SQL} + {_V_SQL} + j) % 1021 AS DOUBLE) / 510.5 - 1.0)"
)


def _bits_spark(planes: int) -> str:
    """Spark expr: ``planes`` hyperplane sign bits per embedding row."""
    return (
        f"transform(sequence(0, {planes - 1}), j -> "
        f"CASE WHEN aggregate(sequence(1, size(embedding)), CAST(0 AS DOUBLE), "
        f"(acc, i) -> acc + CAST(element_at(embedding, i) AS DOUBLE) * {_PLANE_SQL}"
        f") >= 0 THEN 1 ELSE 0 END)"
    )


def _bands_spark(bands: int, rows: int) -> str:
    """Spark expr: pack ``bits`` into ``bands`` signatures of ``rows`` bits."""
    return (
        f"transform(sequence(0, {bands - 1}), k -> "
        f"aggregate(sequence(1, {rows}), 0, "
        f"(acc, t) -> acc * 2 + element_at(bits, {rows} * k + t)))"
    )


_BITS_DUCK = f"""list_transform(generate_series(0, {_LSH_PLANES - 1}), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)),
                  i -> CAST(embedding[i] AS DOUBLE) * {_PLANE_SQL})) >= 0
                THEN 1 ELSE 0 END)"""

_SIG_DUCK = " + ".join(
    f"bits[{_LSH_ROWS}*g.k + {t + 1}]*{2 ** (_LSH_ROWS - 1 - t)}"
    for t in range(_LSH_ROWS)
)

def band_candidate_pairs_for(
    vectors: DataFrame, bands: int = _LSH_BANDS, rows: int = _LSH_ROWS
) -> DataFrame:
    """Distinct ordered candidate pairs (a < b) from the LSH band buckets,
    for any frame carrying (vec_id, embedding) — the planted-pair recall
    property test feeds synthetic corpora through exactly the declared
    machinery (tests/test_properties.py).

    Shape: ONE signature pass (32 interpreted folds per vector — the
    dominant linear cost at corpus scale), ONE shuffle into (band, sig)
    buckets, then pair expansion *inside* each bucket via collect_list +
    in-array combination explode. The earlier sigs-self-join formulation
    evaluated the whole signature subtree twice (once per join side —
    Catalyst does not reuse the exchange across the differently-aliased
    branches; verified 4 scans / 9 exchanges in the executed plan) and
    shuffled both copies. Bucket membership lists are bounded by the band
    collision probability (see _LSH_BANDS above), so the in-bucket
    quadratic expansion is bounded the same way the joined pair count
    always was — identical candidate set, half the signature compute.

    ``bands``/``rows`` default to the declared-query configuration; the
    scaling probe passes wider rows because bits-per-band must grow with
    log2(corpus) to hold bucket OCCUPANCY (not count) constant — with
    rows fixed, random-pair collisions scale as n²·2^-rows and the
    candidate set itself goes quadratic (measured, BASELINE.md 10×/30×
    probe). Growing the corpus 2^b× costs b extra bits per band to keep
    the expansion linear.
    """
    return band_pairs_from_bits(
        vectors.withColumn("bits", F.expr(_bits_spark(bands * rows))), bands, rows
    )


def band_pairs_from_bits(bit_frame: DataFrame, bands: int, rows: int) -> DataFrame:
    """Band packing + in-bucket pair expansion over a precomputed
    ``(vec_id, bits)`` frame — the back half of
    :func:`band_candidate_pairs_for`, split out so the vectorized bit
    path (:func:`hyperplane_bits_pandas`, used by the scaling probe past
    the interpreted fold's throughput ceiling) feeds the exact same
    bucket machinery as the declared SQL fold."""
    sigs = bit_frame.select(
        "vec_id",
        F.posexplode(F.expr(_bands_spark(bands, rows))).alias("band", "sig"),
    )
    buckets = (
        sigs.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


@artifact("lsh_band_pairs")
def _band_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs over the embeddings table (fanout: the
    single-row-group fixture scan parallelizes for the signature folds;
    no-op on clusters). q_sim_neardup rescopes it per query vector,
    q_sim_pairs_lsh thresholds it, and q_dedup_semantic clusters it —
    one signature pass + one bucket shuffle per session instead of
    three (the probe path band_candidate_pairs_for stays fresh)."""
    return band_candidate_pairs_for(
        fanout(table(spark, sf_dir, "embeddings"))
    ).localCheckpoint()


_IVF_K = 8  # seed centroids = vectors with vec_id < _IVF_K (deterministic)

_D2_SQL = (
    "list_sum(list_transform(generate_series(1, len(e)), "
    "i -> (CAST(e[i] AS DOUBLE) - CAST(c[i] AS DOUBLE)) "
    "* (CAST(e[i] AS DOUBLE) - CAST(c[i] AS DOUBLE))))"
)


@query(
    "q_sim_ivf_assign",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding AS c FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    dists AS (
      SELECT v.vec_id, s.cell, {_D2_SQL} AS d2
      FROM (SELECT vec_id, embedding AS e FROM embeddings) v CROSS JOIN seeds s
    )
    SELECT vec_id, cell, round(d2, 6) AS dist2 FROM (
      SELECT vec_id, cell, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM dists
    ) WHERE rn = 1
    """,
)
def q_sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BUILD step: assign every vector to its nearest of
    k=8 coarse centroids (here: the deterministic seed vectors
    vec_id < 8 — on a real corpus, k-means centroids from a sampled
    training pass; the assignment topology is identical).

    This is the pass that turns brute-force search (q_sim_cosine_topk)
    into cell-pruned search (q_sim_ivf_topk): one broadcast of the k
    centroids, one linear scan with k squared-L2 folds per vector, one
    argmin — at 100 TB the output cell id becomes a partition column
    and every subsequent query prunes to ~1/k of the corpus. Distances
    are the same sequential float64 folds as every similarity here
    (bit-identical across engines), so the argmin and the 6 dp-rounded
    distance hash-check exactly; the (d2, cell) ordering makes any
    exact tie deterministic.
    """
    return ivf_assign_for(fanout(table(spark, sf_dir, "embeddings"))).select(
        "vec_id", "cell", F.round("d2", 6).alias("dist2")
    )


def ivf_assign_for(base: DataFrame) -> DataFrame:
    """Deterministic seed-centroid assignment (vec_id, cell, d2 raw) —
    the shared body of q_sim_ivf_assign and the cell key of
    q_sample_cluster_balanced (llm_pipeline): one broadcast of the
    k=_IVF_K seed vectors, one linear scan with k exact squared-L2
    folds per vector, one (d2, cell)-tiebroken argmin window keyed on
    |vectors|-cardinality vec_id."""
    seeds = base.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c")
    )
    d2 = F.expr(
        "aggregate(zip_with(e, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    dists = (
        base.select("vec_id", F.col("embedding").alias("e"))
        .crossJoin(F.broadcast(seeds))
        .select("vec_id", "cell", d2.alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell", "d2")
    )


def kmeans_lloyd(vectors: DataFrame, k: int, iters: int):
    """Lloyd's k-means over an embedding frame, pure DataFrame ops — the
    training pass that produces REAL IVF centroids (q_sim_ivf_assign
    uses fixed seeds; on a corpus you run this on a sample first).

    Per iteration: broadcast the k centroids, assign each vector to its
    argmin squared-L2 (same fold as q_sim_ivf_assign), recompute each
    centroid as the per-dimension mean of its members (posexplode +
    groupBy(cell, pos) avg, re-assembled into arrays — one shuffle
    keyed by (cell, pos), never a per-centroid collect), and
    localCheckpoint the (k x dim)-sized model so the plan stays O(1)
    per round. Returns (centroids DataFrame, [wcss per iteration]);
    Lloyd guarantees the within-cluster sum of squares is
    non-increasing (property-tested). At 100 TB: centroids are a
    broadcast-sized model, assignment is one linear pass, and the
    centroid update shuffles |corpus x dim| once per iteration — run
    on a hash-sample (q_sample_hash) and assign the full corpus once.
    """
    cents = (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("c"))
        .localCheckpoint(eager=True)
    )
    d2 = F.expr(
        "aggregate(zip_with(e, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    wcss_hist: list[float] = []
    prev_assigned = None
    for _ in range(iters):
        dists = (
            vectors.select("vec_id", F.col("embedding").alias("e"))
            .crossJoin(F.broadcast(cents))
            .select("vec_id", "e", "cell", d2.alias("d2"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
        assigned = (
            dists.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        ).localCheckpoint(eager=True)
        # the eager assignment has materialized: the PREVIOUS
        # iteration's corpus-sized assignment and the centroid model
        # just consumed are both superseded (the update below reads
        # only `assigned`) — release their blocks for real; a
        # DataFrame-level unpersist would be a CacheManager no-op
        # (ADVICE r11, same discipline as the BPE/CC loops). Without
        # this every iteration pins a |corpus|-row checkpoint.
        if prev_assigned is not None:
            free_local_checkpoint(prev_assigned)
        free_local_checkpoint(cents)
        prev_assigned = assigned
        wcss_hist.append(assigned.agg(F.sum("d2")).collect()[0][0])
        cents = (
            assigned.select("cell", F.posexplode("e").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("mu"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mu))), s -> CAST(s.mu AS FLOAT))"
                ).alias("c")
            )
            .localCheckpoint(eager=True)
        )
    # the returned model is the only live checkpoint; the final
    # assignment fed it and nothing else
    if prev_assigned is not None:
        free_local_checkpoint(prev_assigned)
    return cents, wcss_hist


@query(
    "q_sim_neardup",
    oracle=f"""
    WITH bitted AS (
      SELECT vec_id, {_BITS_DUCK} AS bits
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, g.k AS band, {_SIG_DUCK} AS sig
      FROM bitted, unnest(generate_series(0, {_LSH_BANDS - 1})) AS g(k)
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT p.q_id, p.c_id,
             {_COS_SQL} AS cos_sim
      FROM pairs p
      JOIN (SELECT vec_id, embedding AS qe FROM embeddings) qa ON p.q_id = qa.vec_id
      JOIN (SELECT vec_id, embedding AS ce FROM embeddings) ca ON p.c_id = ca.vec_id
    )
    SELECT q_id AS vec_id, c_id AS nn_id, cos_sim AS nn_cos
    FROM (
      SELECT q_id, c_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_sim_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: each vector's nearest neighbor among its LSH
    band-bucket candidates (random-hyperplane signatures, exact cosine
    rescoring within buckets).

    Topology: one linear pass computes 32 sign bits per vector (the
    hyperplanes are hashed into existence — no side table, no broadcast),
    bits pack into 4×8-bit band signatures, candidate pairs expand inside
    the (band, sig) buckets (_band_candidate_pairs — single signature
    evaluation, single shuffle), and only candidate pairs pay the exact
    cosine fold. Bucket sizes are bounded by the band collision
    probability (see _LSH_BANDS above), NOT by a fixed low-cardinality
    metadata key — this is the 100 TB-safe blocking the label-cell
    variant (q_sim_ivf_topk) can't provide. Vectors whose buckets contain
    no other member have no near-dup candidates and drop out, exactly as
    a production near-dup sweep wants.
    """
    # fanout: parallelize the single-row-group fixture scan for the
    # 32 interpreted 64-dim folds per vector (no-op on clusters)
    base = fanout(_normed(spark, sf_dir))
    # nearest-NEIGHBOR needs both directions of each unordered pair: fan
    # each row out locally (a union of two projections would evaluate
    # the whole candidate subtree twice — the waste this query just shed)
    pairs = (
        _band_candidate_pairs(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "array(struct(a AS q_id, b AS c_id), "
                    "struct(b AS q_id, a AS c_id))"
                )
            ).alias("p")
        )
        .select("p.q_id", "p.c_id")
    )
    qa = base.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    ca = base.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = pairs.join(qa, "q_id").join(ca, "c_id").select(
        "q_id", "c_id", _cos_pair().alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("c_id").alias("nn_id"),
            F.col("cos_sim").alias("nn_cos"),
        )
    )


@query(
    "q_sim_pairs_lsh",
    oracle=f"""
    WITH bitted AS (
      SELECT vec_id, {_BITS_DUCK} AS bits
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, g.k AS band, {_SIG_DUCK} AS sig
      FROM bitted, unnest(generate_series(0, {_LSH_BANDS - 1})) AS g(k)
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT p.q_id AS vec_a, p.c_id AS vec_b,
             {_COS_SQL} AS cos_sim
      FROM pairs p
      JOIN (SELECT vec_id, embedding AS qe FROM embeddings) qa ON p.q_id = qa.vec_id
      JOIN (SELECT vec_id, embedding AS ce FROM embeddings) ca ON p.c_id = ca.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.3
    """,
)
def q_sim_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold similarity join: all embedding pairs with cosine >= τ,
    candidates generated by the LSH band buckets (q_sim_neardup's
    machinery with an ordered a<b pair space), exact rescoring inside
    buckets.

    The similarity-join primitive for embedding-level corpus dedup at
    scale: candidate volume tracks the number of genuinely similar pairs
    (band collision probability), never |corpus|² — and the τ filter is
    applied AFTER exact rescoring, so band false positives cost one fold
    each and false-negative rates are the documented LSH recall curve,
    tunable via bits-per-band. Candidates come from _band_candidate_pairs
    (one signature pass, one shuffle, in-bucket pair expansion), already
    in the ordered a < b pair space this query emits.
    """
    base = fanout(_normed(spark, sf_dir))
    pairs = _band_candidate_pairs(spark, sf_dir).select(
        F.col("a").alias("q_id"), F.col("b").alias("c_id")
    )
    qa = base.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    ca = base.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    return (
        pairs.join(qa, "q_id")
        .join(ca, "c_id")
        .select(
            F.col("q_id").alias("vec_a"),
            F.col("c_id").alias("vec_b"),
            _cos_pair().alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
    )


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH bitted AS (
      SELECT vec_id, {_BITS_DUCK} AS bits
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, g.k AS band, {_SIG_DUCK} AS sig
      FROM bitted, unnest(generate_series(0, {_LSH_BANDS - 1})) AS g(k)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    tau AS (
      SELECT p.q_id AS vec_a, p.c_id AS vec_b
      FROM cand p
      JOIN (SELECT vec_id, embedding AS qe FROM embeddings) qa ON p.q_id = qa.vec_id
      JOIN (SELECT vec_id, embedding AS ce FROM embeddings) ca ON p.c_id = ca.vec_id
      WHERE {_COS_SQL} >= 0.3
    ),
    reps AS (
      SELECT vec_b AS vec_id, min(vec_a) AS rep_id FROM tau GROUP BY vec_b
    )
    SELECT e.vec_id,
           CAST(CASE WHEN r.rep_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
           r.rep_id
    FROM embeddings e LEFT JOIN reps r ON e.vec_id = r.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup survivor screen, SemDeDup-style
    (Abbas et al. 2023, public): a vector is DROPPED when any lower-id
    vector sits within cosine >= tau of it among the LSH band-bucket
    candidates; dropped rows carry the smallest such neighbor as their
    representative. Output is one row per corpus vector — the screen a
    training-data pipeline applies after embedding a corpus, where
    near-identical meaning (not near-identical bytes) is the dup signal.

    Plan: the tau-pair frame IS q_sim_pairs_lsh (called directly — one
    signature pass, in-bucket candidate expansion, exact cosine
    rescoring; no new machinery), collapsed to min-representative per
    victim (pair-bounded aggregate), then a broadcast-size left join
    back onto the corpus spine. The greedy lower-id rule is
    deterministic and one-pass — no iterative clustering — so the whole
    screen is two linear passes + a pair-sized aggregate at any corpus
    size; recall tracks the LSH band curve exactly as the pair query
    documents (rows-per-band grows log2 with corpus to hold bucket
    occupancy). The rep frame is |dropped|-bounded — small on a clean
    corpus, but a dup-heavy crawl can make it a real fraction of the
    spine, so the join is NOT force-broadcast: AQE picks broadcast when
    the runtime size allows and falls back to a co-partitioned shuffle
    join of two id/id-pair frames when it doesn't.
    """
    pairs = q_sim_pairs_lsh(spark, sf_dir)
    reps = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("rep_id")
    )
    spine = table(spark, sf_dir, "embeddings").select("vec_id")
    return spine.join(reps, "vec_id", "left").select(
        "vec_id",
        F.when(F.col("rep_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        "rep_id",
    )


@query(
    "q_embed_whiten",
    oracle="""
    WITH stats AS (
      SELECT i AS dim,
             round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mu,
             round(stddev_samp(CAST(embedding[i] AS DOUBLE)), 6) AS sd
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
      GROUP BY i
    ),
    model AS (
      SELECT list(mu ORDER BY dim) AS mus, list(sd ORDER BY dim) AS sds
      FROM stats
    )
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           CASE WHEN list_contains(m.sds, 0) THEN NULL
                ELSE round(sqrt(list_sum(list_transform(
                  generate_series(1, len(embedding)),
                  i -> ((CAST(embedding[i] AS DOUBLE) - m.mus[i]) / nullif(m.sds[i], 0))
                     * ((CAST(embedding[i] AS DOUBLE) - m.mus[i]) / nullif(m.sds[i], 0))))), 6)
           END AS wnorm
    FROM embeddings CROSS JOIN model m
    """,
)
def q_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening (z-score standardization) of embeddings,
    surfaced as the whitened L2 norm per vector.

    The normalization pass between q_embed_dimstats (the profile) and
    q_embed_quantize (the codec): corpus μ/σ per dimension come from one
    posexplode aggregate, re-assemble into two |dim|-length arrays and
    broadcast back — a 64-value model table, never a second corpus pass.
    The model parameters are ROUNDED to 6 dp before use on both engines,
    so the whitened values derive from identical inputs and the final
    6 dp round never sits on an aggregation-order ULP boundary.

    Degenerate-dimension guard: a constant dimension (sd rounds to 0)
    divides by ``nullif(sd, 0)`` on both engines, and the oracle wraps
    the sum in ``CASE WHEN list_contains(sds, 0) THEN NULL`` because
    DuckDB's list_sum SKIPS NULL elements while Spark's aggregate fold
    PROPAGATES them — both sides therefore yield wnorm = NULL for every
    row whenever any dimension is constant, instead of inf/NaN or an
    engine-divergent partial sum.
    """
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("pos", "v"))
    stats = ex.groupBy("pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mu"),
        F.round(F.stddev_samp(F.col("v").cast("double")), 6).alias("sd"),
    )
    model = stats.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mu"))), lambda s: s.mu
        ).alias("mus"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "sd"))), lambda s: s.sd
        ).alias("sds"),
    )
    wnorm = F.round(
        F.sqrt(
            F.expr(
                "aggregate(sequence(1, size(embedding)), CAST(0 AS DOUBLE), (acc, i) -> "
                "acc + ((CAST(element_at(embedding, i) AS DOUBLE) - element_at(mus, i)) "
                "/ nullif(element_at(sds, i), CAST(0 AS DOUBLE))) "
                "* ((CAST(element_at(embedding, i) AS DOUBLE) - element_at(mus, i)) "
                "/ nullif(element_at(sds, i), CAST(0 AS DOUBLE))))"
            )
        ),
        6,
    )
    return (
        e.crossJoin(F.broadcast(model))
        .select("vec_id", F.size("embedding").alias("n_dims"), wnorm.alias("wnorm"))
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH bounds AS (
      SELECT min(v) AS lo, max(v) AS hi
      FROM (SELECT unnest(embedding) AS v FROM embeddings)
    )
    SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> CAST(least(greatest(
                    floor((CAST(x AS DOUBLE) - CAST(lo AS DOUBLE))
                          / (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) * 255.0),
                    0.0), 255.0) AS BIGINT)), ',') AS codes
    FROM embeddings CROSS JOIN bounds
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization: float32 embeddings -> 8-bit codes (0..255).

    The storage path for 100 TB vector corpora (4x smaller than fp32,
    16x with packing). Corpus min/max come from one aggregate and ride
    into the transform as a broadcast scalar; the per-element math is a
    deterministic double expression on both engines (floor, not round,
    so no half-way ambiguity).
    """
    emb = table(spark, sf_dir, "embeddings")
    bounds = emb.select(
        F.min(F.expr("array_min(embedding)")).alias("lo"),
        F.max(F.expr("array_max(embedding)")).alias("hi"),
    )
    j = emb.crossJoin(F.broadcast(bounds))
    codes = F.expr(
        "array_join(transform(embedding, x -> CAST(least(greatest("
        "floor((CAST(x AS DOUBLE) - CAST(lo AS DOUBLE)) "
        "/ (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) * 255.0D), 0.0D), 255.0D) AS BIGINT)), ',')"
    )
    return j.select("vec_id", codes.alias("codes"))


@query(
    "q_sim_centroid",
    oracle="""
    WITH cent AS (
      SELECT label, g.pos AS pos,
             avg(CAST(embedding[g.pos] AS DOUBLE)) AS cv
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS g(pos)
      GROUP BY label, g.pos
    ),
    cvec AS (
      SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label
    )
    SELECT e.label,
           count(*) AS n_vecs,
           round(avg(sqrt(list_sum(list_transform(
             generate_series(1, len(e.embedding)),
             i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))))), 6)
             AS avg_dist
    FROM embeddings e JOIN cvec c ON e.label = c.label
    GROUP BY e.label
    """,
)
def q_sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + mean intra-cluster L2 distance (the k-means
    E-step / cluster-cohesion diagnostic).

    Centroids via posexplode → (label, dim) avg → re-assembled in dim
    order; distances via the module's sequential float64 fold. The
    centroid table is |labels|×dim — broadcast side of the join. At
    corpus scale this is exactly one iteration of distributed k-means:
    linear explode, bounded-cardinality shuffle, broadcast join back.
    """
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = ex.groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("cv"))
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
        ).alias("centroid")
    )
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(embedding, centroid, "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    return (
        e.join(F.broadcast(cvec), "label")
        .select("label", dist.alias("dist"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
        )
    )


@query(
    "q_embed_dimstats",
    oracle="""
    SELECT CAST(i - 1 AS INTEGER) AS dim,
           count(*) AS n,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_v,
           round(stddev_samp(CAST(embedding[i] AS DOUBLE)), 6) AS std_v,
           round(min(CAST(embedding[i] AS DOUBLE)), 6) AS min_v,
           round(max(CAST(embedding[i] AS DOUBLE)), 6) AS max_v
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    GROUP BY i
    """,
)
def q_embed_dimstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/std/min/max over the
    corpus) — the profile that feeds whitening, normalization and
    quantizer calibration (q_embed_quantize uses the global min/max
    variant of the same pass).

    posexplode is map-side (rows = |corpus| x dim), then one hash
    aggregate keyed on the 64-value dim — shuffle volume is
    |dims| x |partitions| partial states, never the vectors themselves.
    Float32 components are cast to float64 before aggregation on both
    engines per the parity discipline.
    """
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


@query(
    "q_embed_outliers",
    oracle="""
    WITH ex AS (
      SELECT CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    st AS (
      SELECT dim, round(avg(v), 6) AS mu, round(stddev_samp(v), 6) AS sd
      FROM ex GROUP BY dim
    ),
    sv AS (SELECT list(mu ORDER BY dim) AS mus, list(sd ORDER BY dim) AS sds
           FROM st)
    SELECT vec_id,
           round(list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> CASE WHEN sds[i] > 0
                       THEN ((CAST(e.embedding[i] AS DOUBLE) - mus[i]) / sds[i])
                            * ((CAST(e.embedding[i] AS DOUBLE) - mus[i]) / sds[i])
                       ELSE CAST(0 AS DOUBLE) END)), 6) AS score
    FROM embeddings e CROSS JOIN sv
    ORDER BY score DESC, vec_id
    LIMIT 20
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding OUTLIERS by diagonal-whitened squared distance —
    the 'which vectors are broken' diagnostic an embedding-quality gate
    runs before admitting a batch: score = sum over dims of
    ((x_d - mu_d) / sd_d)^2, i.e. the Mahalanobis distance under the
    diagonal covariance (full-covariance whitening lives in
    q_embed_whiten; this is its per-VECTOR anomaly companion). A junk
    vector (zeroed dims, wrong scale, NaN-replaced payloads, an encoder
    version mismatch) lands at the top of exactly this ranking.

    Scale: the per-dim (mu, sd) profile is the q_embed_dimstats pass
    (posexplode + |dims|-group aggregate, shuffle = partial states);
    both profiles collapse to ONE broadcast 1-row pair of d-element
    arrays, and the score is the house sequential float64 fold
    (dot64/_dot_sql pairing) over each vector in element order — one
    linear corpus pass, top-20 via TakeOrderedAndProject (distributed
    partial top-k, never a global sort). Parity: mu/sd round at 6 dp
    so both engines fold bit-identical constants; each element term is
    the same IEEE op tree; zero/NULL sd dims contribute exactly 0 on
    both engines (constant dims carry no anomaly signal).
    """
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    stats = ex.groupBy("dim").agg(
        F.round(F.avg("v"), 6).alias("mu"),
        F.round(F.stddev_samp("v"), 6).alias("sd"),
    )
    sv = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mu))), s -> s.mu)"
        ).alias("mus"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, sd))), s -> s.sd)"
        ).alias("sds"),
    )
    zsq = F.expr(
        "aggregate(zip_with(zip_with(embedding, mus, "
        "(x, m) -> CAST(x AS DOUBLE) - m), sds, "
        "(d, s) -> CASE WHEN s > 0 THEN (d / s) * (d / s) "
        "ELSE CAST(0 AS DOUBLE) END), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        e.crossJoin(F.broadcast(sv))
        .select("vec_id", F.round(zsq, 6).alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(20)
    )


@query(
    "q_embed_covariance",
    oracle="""
    WITH x AS (
      SELECT vec_id, CAST(i - 1 AS INT) AS d, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sums AS (SELECT d, sum(v) AS sx FROM x GROUP BY d),
    prods AS (
      SELECT a.d AS dim_i, b.d AS dim_j, sum(a.v * b.v) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY a.d, b.d
    )
    SELECT p.dim_i, p.dim_j,
           round((p.sxy - sa.sx * sb.sx / nn.n) / (nn.n - 1), 6) + 0.0 AS cov
    FROM prods p
    JOIN sums sa ON p.dim_i = sa.d
    JOIN sums sb ON p.dim_j = sb.d
    CROSS JOIN nn
    """,
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance matrix of the embedding corpus —
    the d x d moment aggregate PCA / ZCA-whitening / OPQ rotation all
    start from (q_embed_whiten is the diagonal-only special case; the
    eigendecomposition of this 2080-row output is a driver-side
    O(d^3) = trivial step once the corpus pass is done).

    Shape: each vector expands MAP-SIDE into its d(d+1)/2 pair
    products via a nested transform over the array (one explode, no
    self-join, no second corpus scan — the oracle's x JOIN x
    formulation would shuffle |corpus| x d rows on vec_id; here
    vec_id never leaves the mapper). That per-row d^2/2 multiply IS
    the FLOP floor of covariance, and the shuffle after it carries
    only d^2/2 partial sums per partition (partial+final
    HashAggregate), so network volume is corpus-size-independent.
    Means arrive from the d-row first-moment aggregate of the same
    scan pattern, broadcast onto the 2080-row product frame; the
    centered combine (sxy - sx*sy/n)/(n-1) runs on exact double sums
    and rounds at 6 dp per the float-fold discipline (module
    docstring).
    """
    return covariance_table(spark, sf_dir)


@artifact("embed_cov")
def covariance_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embeddings table — the ONE
    corpus moment pass behind q_embed_covariance AND the PCA axis builds
    (_pca_micro_cov): at 100 TB the second-moment matrix is computed
    once and every spectrum/whitening/drift consumer reads the
    d^2/2-row artifact."""
    return covariance_for(table(spark, sf_dir, "embeddings")).localCheckpoint()


def covariance_for(e: DataFrame) -> DataFrame:
    """Upper-triangle covariance for any (embedding) frame — the body of
    :func:`q_embed_covariance`, split out so the scaling probe can feed
    replicated corpora through the identical plan."""
    prods = (
        e.select(
            F.explode(
                F.expr(
                    "flatten(transform(embedding, (x, i) -> "
                    "transform(slice(embedding, i + 1, size(embedding) - i), "
                    "(y, j) -> struct(i AS dim_i, i + j AS dim_j, "
                    "CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS xy))))"
                )
            ).alias("p")
        )
        .groupBy("p.dim_i", "p.dim_j")
        .agg(F.sum("p.xy").alias("sxy"))
    )
    moments = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg(F.sum(F.col("v").cast("double")).alias("sx"))
    )
    n = e.agg(F.count("*").alias("n"))
    sa = moments.select(F.col("d").alias("dim_i"), F.col("sx").alias("sxa"))
    sb = moments.select(F.col("d").alias("dim_j"), F.col("sx").alias("sxb"))
    return (
        prods.join(F.broadcast(sa), "dim_i")
        .join(F.broadcast(sb), "dim_j")
        .crossJoin(F.broadcast(n))
        .select(
            "dim_i",
            "dim_j",
            (
                F.round(
                    (F.col("sxy") - F.col("sxa") * F.col("sxb") / F.col("n"))
                    / (F.col("n") - 1),
                    6,
                )
                # signed-zero normalization (functions/scalar2.py
                # discipline): DuckDB's round yields -0.0 where Spark's
                # yields +0.0; IEEE -0.0 + 0.0 = +0.0 on both engines
                + 0.0
            ).alias("cov"),
        )
    )


def hyperplane_bits_pandas(df: DataFrame, planes: int = _LSH_PLANES) -> DataFrame:
    """Vectorized (Arrow/numpy) twin of the interpreted hyperplane-bit
    expression used by q_sim_neardup / q_sim_pairs_lsh — the documented
    escape hatch (SCALE.md §J) for when the 32 interpreted 64-dim folds
    per vector dominate a corpus-scale run.

    Returns (vec_id, bits) with bits BIT-IDENTICAL to the SQL
    expression's output: the accumulation loops over dimensions in the
    same 1-based order as the sequential float64 fold (`aggregate(
    sequence(1, size(embedding)), ...)`), vectorized across rows, so
    every partial sum is the same float64 on both paths — not just the
    final sign. tests/test_properties.py pins the equivalence on the
    real fixture; the declared queries keep the pure-SQL path (oracle
    parity needs zero Python).

    Measured bits-only (local[32], 200 k × 64-dim vectors, 32 planes):
    the SQL fold wins 3× (0.15 s vs 0.5 s) — Arrow transfer dominates
    when the bits are the OUTPUT. But measured end-to-end through the
    band-bucket pipeline (scaling probe ``lshv_*`` rows, r7), where the
    bits collapse to band signatures before any shuffle, the vectorized
    path wins and keeps a ~linear slope through 100× while the
    interpreted fold's ~2.5 ms/vector ceiling caps the probe at 30×.
    Which path wins is a compute-vs-transfer question — profile, don't
    assume; see SCALE.md §J and BASELINE.md's probe table.

    ``planes`` defaults to the declared-query configuration; the probe
    passes wider counts for occupancy-scaled bands.
    """
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            emb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dim = emb.shape[1]
            j = np.arange(planes, dtype=np.int64)[:, None]
            i = np.arange(1, dim + 1, dtype=np.int64)[None, :]
            v = ((j * 8191 + i) * 2654435761) % 1021
            w = ((v * v + v + j) % 1021) / 510.5 - 1.0
            acc = np.zeros((emb.shape[0], planes), dtype=np.float64)
            # dimension-by-dimension accumulation == the SQL fold's
            # left-to-right order; rows/planes vectorized per step
            for d in range(dim):
                acc += emb[:, d : d + 1] * w[None, :, d]
            bits = (acc >= 0).astype(np.int32)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "bits": list(bits)}
            )

    return df.select("vec_id", "embedding").mapInPandas(
        batches, "vec_id LONG, bits ARRAY<INT>"
    )


@query(
    "q_sim_rank_fusion",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.q_id, c.vec_id,
             {_COS_SQL} AS cos_sim,
             round({_dot_sql('qe', 'qe')} + {_dot_sql('ce', 'ce')}
                   - 2 * {_dot_sql('qe', 'ce')}, 6) AS dist2
      FROM (SELECT vec_id, embedding AS ce FROM embeddings) c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rc,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dist2 ASC, vec_id) AS rd
      FROM scored
    ),
    fused AS (
      SELECT q_id, vec_id,
             1.0 / (60 + rc) + 1.0 / (60 + rd) AS rrf
      FROM ranked
    )
    SELECT q_id, vec_id, rrf, CAST(fr AS BIGINT) AS fused_rank FROM (
      SELECT q_id, vec_id, rrf,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY rrf DESC, vec_id) AS fr
      FROM fused
    ) WHERE fr <= 5
    """,
)
def q_sim_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankings — cosine
    similarity and squared-L2 distance — per query vector, top-5 fused.
    The standard hybrid-retrieval merge (RRF needs only ranks, so it
    composes rankings whose raw scores aren't comparable).

    One broadcast cross join scores every candidate once for BOTH
    metrics (the dot products are shared subtrees Catalyst evaluates
    once per pair); the two row_number windows share the q_id hash
    partitioning, so the pair frame shuffles once and only re-sorts.
    The RRF score is built from integer ranks (1.0/(60+r)), so the
    fused ordering is float-canonicalization-immune; cos/dist2 feed
    ranks only after a round(6) that is mirrored in the oracle.

    r17: base fanned out (the q_sim_cosine_topk pattern) — measured
    1.57× warm at sf0.1; no-op on multi-split layouts.
    """
    base = fanout(_normed(spark, sf_dir))
    q = base.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        "vec_id", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _cos_pair().alias("cos_sim"),
            F.round(
                dot64("qe", "qe") + dot64("ce", "ce") - 2 * dot64("qe", "ce"), 6
            ).alias("dist2"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    wd = Window.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("vec_id"))
    ranked = scored.select(
        "q_id",
        "vec_id",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wd).alias("rd"),
    )
    fused = ranked.select(
        "q_id",
        "vec_id",
        (
            F.lit(1.0) / (F.lit(60) + F.col("rc"))
            + F.lit(1.0) / (F.lit(60) + F.col("rd"))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("vec_id"))
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .where(F.col("fr") <= 5)
        .select("q_id", "vec_id", "rrf", F.col("fr").cast("long").alias("fused_rank"))
    )


def _l2sq_spark(a: str, b: str, start: int, sub: int) -> Column:
    """Sequential float64 fold of squared L2 distance over a 1-based
    ``sub``-wide slice of two float32 vectors (Spark side)."""
    return F.expr(
        f"aggregate(zip_with(slice({a}, {start}, {sub}), slice({b}, {start}, {sub}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _l2sq_sql(a: str, b: str, start: int, sub: int) -> str:
    """DuckDB twin of _l2sq_spark: same element order, same float64 fold."""
    return (
        f"list_sum(list_transform(generate_series({start}, {start + sub - 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


_PQ_M, _PQ_SUB = 4, 16  # 64-dim embedding -> 4 subspaces x 16 dims


def pq_codes_for(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ-encode a corpus frame against a codebook frame (code, cbe):
    one broadcast cross join + one aggregate with _PQ_M commutative
    min(struct(dist, code)) argmins -> (vec_id, c0.._c3). Frame-
    parameterized so the scaling probe measures the declared encode
    plan (CLAUDE.md probe-helper convention)."""
    starts = [1 + m * _PQ_SUB for m in range(_PQ_M)]
    return (
        emb.crossJoin(F.broadcast(cb))
        .groupBy("vec_id")
        .agg(
            *[
                F.min(
                    F.struct(
                        _l2sq_spark("embedding", "cbe", s, _PQ_SUB).alias("d"),
                        F.col("code").alias("c"),
                    )
                )["c"].alias(f"c{m}")
                for m, s in enumerate(starts)
            ]
        )
    )


@query(
    "q_sim_pq_adc",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id - 8 AS code, embedding AS cbe
      FROM embeddings WHERE vec_id BETWEEN 8 AND 15
    ),
    enc AS (
      SELECT e.vec_id,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 1, 16)}, c := code))).c AS c0,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 17, 16)}, c := code))).c AS c1,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 33, 16)}, c := code))).c AS c2,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 49, 16)}, c := code))).c AS c3
      FROM embeddings e CROSS JOIN cb GROUP BY e.vec_id
    ),
    lut AS (
      SELECT q.vec_id AS q_id, code,
             {_l2sq_sql('q.embedding', 'cbe', 1, 16)} AS qd0,
             {_l2sq_sql('q.embedding', 'cbe', 17, 16)} AS qd1,
             {_l2sq_sql('q.embedding', 'cbe', 33, 16)} AS qd2,
             {_l2sq_sql('q.embedding', 'cbe', 49, 16)} AS qd3
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 3
    ),
    scored AS (
      SELECT l0.q_id, enc.vec_id,
             round(l0.qd0 + l1.qd1 + l2.qd2 + l3.qd3, 6) AS adc_dist
      FROM enc
      JOIN lut l0 ON l0.code = enc.c0
      JOIN lut l1 ON l1.q_id = l0.q_id AND l1.code = enc.c1
      JOIN lut l2 ON l2.q_id = l0.q_id AND l2.code = enc.c2
      JOIN lut l3 ON l3.q_id = l0.q_id AND l3.code = enc.c3
      WHERE enc.vec_id <> l0.q_id
    )
    SELECT q_id, vec_id, adc_dist, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): top-5 approximate neighbors for query vectors vec_id ∈ [0,3)
    — the memory-compressed scale path that complements IVF cell pruning
    (q_sim_ivf_topk) exactly as in the PQ literature (Jégou et al.,
    TPAMI 2011): IVF prunes WHICH vectors are scored, PQ shrinks WHAT is
    stored and scored per vector.

    The 64-dim embedding splits into M=4 subspaces of 16 dims; each
    subvector is ENCODED as the argmin-L2 code against an 8-entry
    per-subspace codebook, so a corpus vector collapses to 4 small codes
    (4 bytes instead of 256 — at 100 TB the encoded corpus fits in a
    fraction of the footprint, and encoding is one linear broadcast-join
    pass, shuffle-free). The codebook here is a deterministic corpus
    sample (vec_id ∈ [8,16)) standing in for the k-means training step
    (kmeans_lloyd above is the trainer at scale — sampling keeps the
    oracle cross-engine reproducible). Queries are NOT quantized:
    per query, a 8×4-entry LOOKUP TABLE of exact subspace distances is
    built against the codebook (the "asymmetric" in ADC) and broadcast;
    scoring a corpus vector is then 4 lookup joins + a fixed-order
    4-term add — no per-pair vector math at all, which is the entire
    point of PQ at scale. argmin parity: both engines fold the same
    float64 expression tree bit-for-bit, and the code choice is a
    min(struct(dist, code)) — commutative, tiebreak code asc — so the
    assignments hash identically.
    """
    emb = table(spark, sf_dir, "embeddings")
    cb = emb.where(F.col("vec_id").between(8, 15)).select(
        (F.col("vec_id") - 8).alias("code"), F.col("embedding").alias("cbe")
    )
    starts = [1 + m * _PQ_SUB for m in range(_PQ_M)]
    enc = pq_codes_for(emb, cb)
    lut = (
        emb.where(F.col("vec_id") < 3)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("q_id"),
            "code",
            *[
                _l2sq_spark("embedding", "cbe", s, _PQ_SUB).alias(f"qd{m}")
                for m, s in enumerate(starts)
            ],
        )
    )
    scored = enc.join(
        F.broadcast(lut.select("q_id", F.col("code").alias("c0"), "qd0")), "c0"
    )
    for m in range(1, _PQ_M):
        scored = scored.join(
            F.broadcast(
                lut.select("q_id", F.col("code").alias(f"c{m}"), f"qd{m}")
            ),
            ["q_id", f"c{m}"],
        )
    scored = scored.where(F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        F.round(
            F.col("qd0") + F.col("qd1") + F.col("qd2") + F.col("qd3"), 6
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("q_id", "vec_id", "adc_dist", "rn")
    )




_COS_RAW_SQL = (
    f"({_dot_sql('qe', 'ce')} / "
    f"(sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})))"
)


@query(
    "q_sim_mmr",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 2
    ),
    scored AS (
      SELECT q.q_id, c.vec_id, c.embedding AS ce, q.qe,
             {_COS_RAW_SQL} AS rel
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    cand AS (
      SELECT q_id, vec_id, ce, rel FROM (
        SELECT q_id, vec_id, ce, rel,
               row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    pairsim AS (
      SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
             {_dot_sql('a.ce', 'b.ce')} /
               (sqrt({_dot_sql('a.ce', 'a.ce')}) * sqrt({_dot_sql('b.ce', 'b.ce')})) AS sim
      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT q_id, vec_id, 0.7 * rel AS mmr_raw FROM (
        SELECT q_id, vec_id, rel,
               row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    step2 AS (
      SELECT c.q_id, c.vec_id,
             0.7 * c.rel - 0.3 * p1.sim AS mmr_raw
      FROM cand c
      JOIN s1 ON s1.q_id = c.q_id AND c.vec_id <> s1.vec_id
      JOIN pairsim p1 ON p1.q_id = c.q_id AND p1.va = c.vec_id AND p1.vb = s1.vec_id
    ),
    s2 AS (
      SELECT q_id, vec_id, mmr_raw FROM (
        SELECT q_id, vec_id, mmr_raw,
               row_number() OVER (PARTITION BY q_id ORDER BY mmr_raw DESC, vec_id) AS rn
        FROM step2
      ) WHERE rn = 1
    ),
    step3 AS (
      SELECT c.q_id, c.vec_id,
             0.7 * c.rel - 0.3 * greatest(p1.sim, p2.sim) AS mmr_raw
      FROM cand c
      JOIN s1 ON s1.q_id = c.q_id AND c.vec_id <> s1.vec_id
      JOIN s2 ON s2.q_id = c.q_id AND c.vec_id <> s2.vec_id
      JOIN pairsim p1 ON p1.q_id = c.q_id AND p1.va = c.vec_id AND p1.vb = s1.vec_id
      JOIN pairsim p2 ON p2.q_id = c.q_id AND p2.va = c.vec_id AND p2.vb = s2.vec_id
    ),
    s3 AS (
      SELECT q_id, vec_id, mmr_raw FROM (
        SELECT q_id, vec_id, mmr_raw,
               row_number() OVER (PARTITION BY q_id ORDER BY mmr_raw DESC, vec_id) AS rn
        FROM step3
      ) WHERE rn = 1
    )
    SELECT q_id, vec_id, round(mmr_raw, 6) AS mmr_score, CAST(1 AS BIGINT) AS sel_rank FROM s1
    UNION ALL
    SELECT q_id, vec_id, round(mmr_raw, 6) AS mmr_score, CAST(2 AS BIGINT) AS sel_rank FROM s2
    UNION ALL
    SELECT q_id, vec_id, round(mmr_raw, 6) AS mmr_score, CAST(3 AS BIGINT) AS sel_rank FROM s3
    """,
)
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance (Carbonell & Goldstein 1998): pick 3
    results per query that are RELEVANT but mutually DIVERSE —
    mmr(c) = 0.7·rel(c) − 0.3·max_{s∈selected} sim(c, s) — the
    retrieval-diversification step between raw top-k (q_sim_cosine_topk)
    and result presentation, and the dedup-at-serving-time counterpart
    of q_dedup_semantic.

    MMR is inherently sequential (each pick changes the next argmax),
    which no single window pass expresses; like q_graph_pagerank the
    k=3 selection is UNROLLED into per-step argmax frames. Everything
    after the corpus pass is candidate-sized: the top-10 shortlist per
    query comes from one brute-force scored window (identical plan to
    q_sim_cosine_topk — at scale swap in the IVF/PQ shortlist), the
    10×10 pairwise-similarity frame joins shortlist-to-shortlist within
    q_id, and each unrolled step is an argmax window over ≤10 rows.

    Parity discipline: every rel/sim/score stays UNROUNDED (the float64
    folds are bit-identical cross-engine) through ALL comparisons and
    argmaxes; rounding to 6 dp happens exactly once, on output. Rounding
    intermediates instead puts products like 0.7·rel on 1e-6 half-way
    boundaries where Spark (HALF_UP) and DuckDB disagree — the first
    draft of this query failed parity at exactly such a boundary
    (0.2600395 → 0.26004 vs 0.260039).
    """
    base = _normed(spark, sf_dir)
    q = base.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand_all = (
        base.select("vec_id", F.col("embedding").alias("ce"), F.col("nrm").alias("cn"))
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "ce",
            "cn",
            (dot64("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("rel"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        cand_all.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("q_id", "vec_id", "ce", "cn", "rel")
        .localCheckpoint(eager=True)  # shortlist: reused by 5 downstream frames
    )
    a = cand.select(
        "q_id", F.col("vec_id").alias("va"), F.col("ce").alias("ae"), F.col("cn").alias("an")
    )
    b = cand.select(
        "q_id", F.col("vec_id").alias("vb"), F.col("ce").alias("be"), F.col("cn").alias("bn")
    )
    pairsim = (
        a.join(b, "q_id")
        .where(F.col("va") != F.col("vb"))
        .select(
            "q_id",
            "va",
            "vb",
            (dot64("ae", "be") / (F.col("an") * F.col("bn"))).alias("sim"),
        )
    )

    def argmax(df, score_col):
        ww = Window.partitionBy("q_id").orderBy(F.desc(score_col), F.asc("vec_id"))
        return (
            df.withColumn("_r", F.row_number().over(ww))
            .where(F.col("_r") == 1)
            .select("q_id", "vec_id", score_col)
        )

    # First selection ranks on RAW rel — the same expression the oracle's
    # s1 CTE orders by. Ranking on 0.7*rel instead could collapse two
    # distinct adjacent doubles into equal keys (the product rounds to the
    # same float64), flipping the vec_id tiebreak cross-engine (ADVICE r8).
    s1 = (
        argmax(
            cand.select("q_id", "vec_id", "rel"),
            "rel",
        )
        .select("q_id", "vec_id", (0.7 * F.col("rel")).alias("mmr_raw"))
    )
    p1 = pairsim.select(
        "q_id", F.col("va").alias("vec_id"), F.col("vb").alias("v1"), F.col("sim").alias("sim1")
    )
    step2 = (
        cand.join(F.broadcast(s1.select("q_id", F.col("vec_id").alias("v1"))), "q_id")
        .where(F.col("vec_id") != F.col("v1"))
        .join(p1, ["q_id", "vec_id", "v1"])
        .select(
            "q_id",
            "vec_id",
            (0.7 * F.col("rel") - 0.3 * F.col("sim1")).alias("mmr_raw"),
        )
    )
    s2 = argmax(step2, "mmr_raw")
    p2 = pairsim.select(
        "q_id", F.col("va").alias("vec_id"), F.col("vb").alias("v2"), F.col("sim").alias("sim2")
    )
    step3 = (
        cand.join(F.broadcast(s1.select("q_id", F.col("vec_id").alias("v1"))), "q_id")
        .join(F.broadcast(s2.select("q_id", F.col("vec_id").alias("v2"))), "q_id")
        .where((F.col("vec_id") != F.col("v1")) & (F.col("vec_id") != F.col("v2")))
        .join(p1, ["q_id", "vec_id", "v1"])
        .join(p2, ["q_id", "vec_id", "v2"])
        .select(
            "q_id",
            "vec_id",
            (0.7 * F.col("rel") - 0.3 * F.greatest("sim1", "sim2")).alias("mmr_raw"),
        )
    )
    s3 = argmax(step3, "mmr_raw")

    def out(df, rank):
        return df.select(
            "q_id",
            "vec_id",
            F.round("mmr_raw", 6).alias("mmr_score"),
            F.lit(rank).cast("long").alias("sel_rank"),
        )

    return out(s1, 1).unionByName(out(s2, 2)).unionByName(out(s3, 3))


@query(
    "q_sim_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS qe
      FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.q_id, q.q_label, c.vec_id, c.label,
             {_COS_SQL} AS cos_sim
      FROM (SELECT vec_id, label, embedding AS ce FROM embeddings) c
        CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    cell AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored WHERE label = q_label
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT e.q_id, count(*) AS n_hits
      FROM exact e JOIN cell c ON e.q_id = c.q_id AND e.vec_id = c.vec_id
      GROUP BY e.q_id
    )
    SELECT q.q_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10, 6) AS recall_at_10
    FROM q LEFT JOIN hits h ON q.q_id = h.q_id
    """,
)
def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index quality gate: recall@10 of the IVF coarse-cell search
    (q_sim_ivf_topk's pruning — candidates restricted to the query's
    label cell) against the exact brute-force cosine top-10, per query
    vector vec_id ∈ [0,20). A production ANN stack ships this evaluator
    next to the index: every re-train / re-quantization runs it on a
    held-out query sample, and a recall drop below SLO pages before the
    bad index serves traffic.

    Shape: ONE broadcast-join scan scores all (query, candidate) pairs,
    then two windows over q_id derive the exact and the cell-restricted
    top-10 from the same scored frame — the corpus is read once, and the
    intersection/count is |q|x10-row arithmetic. At 100 TB the scored
    frame is the q_sim_cosine_topk ground-truth job (run on a sampled
    query set precisely because it is the expensive exact pass), and the
    cell ranking reuses its scores for free.
    """
    base = _normed(spark, sf_dir)
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        "vec_id", "label", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_label", "vec_id", "label", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    cell = (
        scored.where(F.col("label") == F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    hits = exact.join(cell, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / 10, 6
            ).alias("recall_at_10"),
        )
    )


@query(
    "q_sim_ndcg",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS qe
      FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.q_id, q.q_label, c.vec_id, c.label,
             {_COS_SQL} AS cos_sim
      FROM (SELECT vec_id, label, embedding AS ce FROM embeddings) c
        CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    top10 AS (
      SELECT q_id, rn, CAST(label = q_label AS DOUBLE) AS rel FROM (
        SELECT q_id, label, q_label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    dcg AS (
      SELECT q_id, rels,
             list_sum(list_transform(generate_series(1, len(rels)),
                                     i -> rels[i] / log2(i + 1))) AS dcg
      FROM (SELECT q_id, list(rel ORDER BY rn) AS rels
            FROM top10 GROUP BY q_id)
    ),
    avail AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM scored WHERE label = q_label GROUP BY q_id
    )
    SELECT d.q_id, a.n_rel,
           round(d.dcg /
                 list_sum(list_transform(
                     generate_series(1, CAST(least(10, a.n_rel) AS INT)),
                     i -> 1.0 / log2(i + 1))), 6) AS ndcg_at_10
    FROM dcg d JOIN avail a ON d.q_id = a.q_id
    """,
)
def q_sim_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality nDCG@10 of exact cosine search, scored against
    binary class-label relevance (candidate label == query label), per
    query vector vec_id ∈ [0,20) — the second half of the ANN evaluation
    suite next to q_sim_recall_eval: recall grades the *index* against
    ground truth, nDCG grades the *ranking* against labeled relevance,
    which is how embedding-model regressions (not index regressions)
    surface in a retrieval stack.

    Parity discipline: DCG and IDCG are SEQUENTIAL rank-ordered float64
    folds on both engines (aggregate() over array_sort(collect_list) on
    Spark, list_sum(list_transform) over an ORDER BY rn list on DuckDB —
    the same fold shape as the module's dot products), never a groupBy
    SUM whose accumulation order the engines could disagree on; log2's
    cross-engine 1-ulp wobble is absorbed by the 6 dp round.

    r17: base fanned out (the q_sim_cosine_topk pattern) — measured
    1.26× warm at sf0.1; no-op on multi-split layouts.
    """
    base = fanout(_normed(spark, sf_dir))
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        "vec_id", "label", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_label", "vec_id", "label", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    top10 = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select(
            "q_id", "rn", (F.col("label") == F.col("q_label")).cast("double").alias("rel")
        )
    )
    dcg = top10.groupBy("q_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(rn, rel))), "
            "CAST(0 AS DOUBLE), (acc, s) -> acc + s.rel / log2(s.rn + 1))"
        ).alias("dcg")
    )
    avail = (
        scored.where(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.count("*").alias("n_rel"))
    )
    idcg = F.expr(
        "aggregate(sequence(1, CAST(least(10, n_rel) AS INT)), "
        "CAST(0 AS DOUBLE), (acc, i) -> acc + 1.0 / log2(i + 1))"
    )
    return (
        dcg.join(avail, "q_id")
        .select("q_id", "n_rel", F.round(F.col("dcg") / idcg, 6).alias("ndcg_at_10"))
    )


@query(
    "q_embed_drift",
    oracle="""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half, g.i AS pos,
             CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    mu AS (
      SELECT label, half, pos, round(avg(v), 6) AS mu
      FROM ex GROUP BY label, half, pos
    ),
    j AS (
      SELECT a.label, a.pos, (a.mu - b.mu) * (a.mu - b.mu) AS d2
      FROM mu a JOIN mu b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    ),
    d AS (SELECT label, list(d2 ORDER BY pos) AS ds FROM j GROUP BY label),
    cnt AS (
      SELECT label,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT d.label, c.n_a, c.n_b,
           round(sqrt(list_sum(d.ds)), 6) AS centroid_dist
    FROM d JOIN cnt c ON d.label = c.label
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label L2 distance between the
    centroids of the two snapshot halves (vec_id parity = yesterday's
    embedding run vs today's) — the embedding-space member of the drift
    family (q_profile_psi / q_profile_ks watch scalar distributions; this
    watches the vector column). An embedding-model re-deploy that shifts
    a class's centroid pages here before retrieval quality decays.

    Scale + parity shape: one posexplode aggregate produces the
    per-(label, half, dim) means — the only corpus-sized pass, partial
    sums map-side, |labels| x 2 x 64 rows survive. Means are rounded to
    6 dp BEFORE differencing (the q_embed_whiten discipline: downstream
    math starts from identical inputs on both engines), and the 64-dim
    squared-difference sum is a dim-ordered sequential fold
    (collect/sort/aggregate — the module's dot-product fold shape), not
    a groupBy SUM with engine-defined accumulation order.
    """
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    mu = ex.groupBy("label", "half", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mu")
    )
    a = mu.where(F.col("half") == 0).select("label", "pos", F.col("mu").alias("mu_a"))
    b = mu.where(F.col("half") == 1).select("label", "pos", F.col("mu").alias("mu_b"))
    j = a.join(b, ["label", "pos"]).select(
        "label",
        "pos",
        ((F.col("mu_a") - F.col("mu_b")) * (F.col("mu_a") - F.col("mu_b"))).alias("d2"),
    )
    dist = j.groupBy("label").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(pos, d2))), "
            "s -> s.d2), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("ss")
    )
    cnt = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    )
    return dist.join(cnt, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(F.sqrt("ss"), 6).alias("centroid_dist"),
    )


_MP_NPROBE = 2  # coarse cells probed per query (the IVF recall/cost dial)


@query(
    "q_sim_ivf_multiprobe",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding AS c FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM (SELECT v.vec_id, s.cell, {_D2_SQL} AS d2
              FROM (SELECT vec_id, embedding AS e FROM embeddings) v
              CROSS JOIN seeds s)
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q_id, cell,
               row_number() OVER (PARTITION BY q_id ORDER BY d2, cell) AS rn
        FROM (SELECT v.vec_id AS q_id, s.cell, {_D2_SQL} AS d2
              FROM (SELECT vec_id, embedding AS e FROM embeddings
                    WHERE vec_id < 10) v
              CROSS JOIN seeds s)
      ) WHERE rn <= {_MP_NPROBE}
    ),
    scored AS (
      SELECT p.q_id, c.vec_id, {_COS_SQL} AS cos_sim
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN (SELECT vec_id, embedding AS ce FROM embeddings) c
        ON c.vec_id = a.vec_id
      JOIN (SELECT vec_id, embedding AS qe FROM embeddings) q
        ON q.vec_id = p.q_id
      WHERE c.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q_sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: search the query's nprobe=2 NEAREST coarse
    cells instead of only the closest one — the standard recall repair
    for the IVF boundary problem (a query near a cell edge has its true
    neighbors in the runner-up cell; single-probe search can never see
    them, q_sim_recall_eval is the gate that catches it). nprobe is THE
    recall/cost dial of a production IVF index: candidates scanned scale
    as nprobe/k of the corpus, recall approaches brute force as nprobe→k.

    Unlike q_sim_ivf_topk (which reuses the fixture ``label`` as a
    pre-assigned cell), this runs the full index topology end-to-end:
    the same k=8 deterministic seed centroids as q_sim_ivf_assign, a
    one-pass argmin assignment of every vector (the index BUILD), a
    per-query top-nprobe centroid ranking (the PROBE plan — k folds per
    query, driver-trivial), then scoring restricted to candidates whose
    assigned cell is probed. A candidate lives in exactly one cell, so
    the probe join never duplicates pairs and needs no DISTINCT.

    Scale shape: seeds broadcast twice (assignment + probe ranking),
    the corpus is scanned once for assignment and once for scoring, and
    the (query x nprobe) probe list joined with the query embeddings is
    a broadcast of ~|q|*nprobe rows; the only corpus-sized shuffle is
    the assignment argmin window on vec_id. At 100 TB the assignment is
    materialized once as a partition column (q_sim_ivf_assign's note)
    and this query becomes: partition-prune to nprobe cells, one fold
    per surviving candidate, top-k window over q_id. Distances and
    cosines are the module's sequential float64 folds; (d2, cell) and
    (cos_sim DESC, vec_id) orderings pin every tie cross-engine.
    """
    emb = fanout(table(spark, sf_dir, "embeddings"))
    base = emb.select(
        "vec_id", "embedding", F.sqrt(dot64("embedding", "embedding")).alias("nrm")
    )
    seeds = emb.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c")
    )
    d2 = F.expr(
        "aggregate(zip_with(e, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    assign = (
        emb.select("vec_id", F.col("embedding").alias("e"))
        .crossJoin(F.broadcast(seeds))
        .select("vec_id", "cell", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    pw = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("e"))
        .crossJoin(F.broadcast(seeds))
        .select("q_id", "cell", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= _MP_NPROBE)
        .select("q_id", "cell")
    )
    qside = probes.join(
        base.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
        ),
        "q_id",
    )
    cand = base.join(assign, "vec_id").select(
        "vec_id", "cell", F.col("embedding").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.join(F.broadcast(qside), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cos_pair().alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("q_id", "vec_id", "cos_sim", "rn")
    )


@query(
    "q_sim_ivf_pq",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding AS c FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM (SELECT v.vec_id, s.cell, {_D2_SQL} AS d2
              FROM (SELECT vec_id, embedding AS e FROM embeddings) v
              CROSS JOIN seeds s)
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q_id, cell,
               row_number() OVER (PARTITION BY q_id ORDER BY d2, cell) AS rn
        FROM (SELECT v.vec_id AS q_id, s.cell, {_D2_SQL} AS d2
              FROM (SELECT vec_id, embedding AS e FROM embeddings
                    WHERE vec_id < 3) v
              CROSS JOIN seeds s)
      ) WHERE rn <= {_MP_NPROBE}
    ),
    cb AS (
      SELECT vec_id - 8 AS code, embedding AS cbe
      FROM embeddings WHERE vec_id BETWEEN 8 AND 15
    ),
    enc AS (
      SELECT e.vec_id,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 1, 16)}, c := code))).c AS c0,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 17, 16)}, c := code))).c AS c1,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 33, 16)}, c := code))).c AS c2,
             (min(struct_pack(d := {_l2sq_sql('e.embedding', 'cbe', 49, 16)}, c := code))).c AS c3
      FROM embeddings e CROSS JOIN cb GROUP BY e.vec_id
    ),
    lut AS (
      SELECT q.vec_id AS q_id, code,
             {_l2sq_sql('q.embedding', 'cbe', 1, 16)} AS qd0,
             {_l2sq_sql('q.embedding', 'cbe', 17, 16)} AS qd1,
             {_l2sq_sql('q.embedding', 'cbe', 33, 16)} AS qd2,
             {_l2sq_sql('q.embedding', 'cbe', 49, 16)} AS qd3
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 3
    ),
    scored AS (
      SELECT p.q_id, enc.vec_id,
             round(l0.qd0 + l1.qd1 + l2.qd2 + l3.qd3, 6) AS adc_dist
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN enc ON enc.vec_id = a.vec_id
      JOIN lut l0 ON l0.q_id = p.q_id AND l0.code = enc.c0
      JOIN lut l1 ON l1.q_id = p.q_id AND l1.code = enc.c1
      JOIN lut l2 ON l2.q_id = p.q_id AND l2.code = enc.c2
      JOIN lut l3 ON l3.q_id = p.q_id AND l3.code = enc.c3
      WHERE enc.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, adc_dist, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def q_sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composed production ANN index (Jégou et al., TPAMI
    2011; the FAISS IVF+PQ default): IVF coarse cells prune WHICH
    vectors are scored (nprobe=2 cells per query, q_sim_ivf_multiprobe's
    probe plan), PQ codes shrink WHAT is scored (4 bytes per vector,
    q_sim_pq_adc's ADC lookup plan). The two indexes the module builds
    separately, finally welded into one query path — candidates =
    probed cells only, per-candidate cost = 4 LUT joins + a fixed-order
    4-term add, no full-width vector math after the probe step.

    Scale shape: assignment and PQ encoding are both one-time BUILD
    passes (cell id becomes the partition column, codes are the stored
    payload — the corpus's full-width embeddings are never read at
    query time); per query the k-cell probe ranking and the 8x4 LUT
    are driver-trivial broadcasts. The only corpus-sized work left at
    query time is the hash join of (probe cells) against the encoded,
    partition-pruned candidate rows. Parity: every distance is the
    module's sequential float64 fold; (d2, cell) pins the probe order,
    min(struct) pins code assignment, (adc_dist, vec_id) pins ranks.
    """
    emb = table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c")
    )
    d2 = F.expr(
        "aggregate(zip_with(e, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    assign = (
        emb.select("vec_id", F.col("embedding").alias("e"))
        .crossJoin(F.broadcast(seeds))
        .select("vec_id", "cell", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    pw = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("e"))
        .crossJoin(F.broadcast(seeds))
        .select("q_id", "cell", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= _MP_NPROBE)
        .select("q_id", "cell")
    )
    cb = emb.where(F.col("vec_id").between(8, 15)).select(
        (F.col("vec_id") - 8).alias("code"), F.col("embedding").alias("cbe")
    )
    starts = [1 + m * _PQ_SUB for m in range(_PQ_M)]
    enc = pq_codes_for(emb, cb)
    lut = (
        emb.where(F.col("vec_id") < 3)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("q_id"),
            "code",
            *[
                _l2sq_spark("embedding", "cbe", s, _PQ_SUB).alias(f"qd{m}")
                for m, s in enumerate(starts)
            ],
        )
    )
    # corpus side stays put; the |q| x nprobe probe list broadcasts (at
    # scale this join is the partition prune on the cell column)
    cand = assign.join(F.broadcast(probes), "cell").select("q_id", "vec_id").join(
        enc, "vec_id"
    )
    scored = cand.join(
        F.broadcast(lut.select("q_id", F.col("code").alias("c0"), "qd0")),
        ["q_id", "c0"],
    )
    for m in range(1, _PQ_M):
        scored = scored.join(
            F.broadcast(
                lut.select("q_id", F.col("code").alias(f"c{m}"), f"qd{m}")
            ),
            ["q_id", f"c{m}"],
        )
    scored = scored.where(F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        F.round(
            F.col("qd0") + F.col("qd1") + F.col("qd2") + F.col("qd3"), 6
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("q_id", "vec_id", "adc_dist", "rn")
    )


_PCA_K = 6  # power-iteration rounds; oracle ladder unrolls the same k


def _pca_oracle(k: int = _PCA_K, final: str | None = None) -> str:
    """Unrolled power-iteration CTE ladder over the covariance oracle —
    the same generated-SQL pattern as llm_text._bpe_oracle_ladder: one
    (w, n, v) CTE triple per iteration.

    EXACT-INT discipline (this is the load-bearing part): a first draft
    iterated on 6-dp-rounded DOUBLES and was measurably nondeterministic
    — v0 = 1/sqrt(64) = 0.125 is exactly binary, covariance entries sit
    on the 1e-6 decimal grid, so ~1/8 of the matvec sums landed EXACTLY
    on a decimal rounding half-boundary and float summation ORDER
    decided the tie (three distinct results in five runs of the same
    SQL). The fix: carry the vector and matrix as integer MICRO-UNITS
    (x1e6), so the matvec sum(ci * vi) is exact int64 arithmetic —
    order-independent by construction — and every double that IS
    produced (norm, next vector) is computed from bit-identical inputs
    on both engines, making each round() call deterministic even at
    boundaries (both engines round doubles half-away-from-zero;
    verified). Headroom: |wi| <= d * max|cov| * 1e12, so int64 is safe
    while d * max|cov| < 9.2e6 — embeddings are unit-scale (max|cov|
    ~ 1), 5 orders of magnitude of slack. The sum of squares uses
    HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) because wi^2 ~ 1e29.
    MATERIALIZED stops DuckDB re-inlining the ladder exponentially (the
    CTE-side twin of the Spark loop's localCheckpoint)."""
    base = """
    x AS MATERIALIZED (
      SELECT vec_id, CAST(i - 1 AS INT) AS d, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sums AS (SELECT d, sum(v) AS sx FROM x GROUP BY d),
    prods AS (
      SELECT a.d AS dim_i, b.d AS dim_j, sum(a.v * b.v) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY a.d, b.d
    ),
    cov AS MATERIALIZED (
      SELECT p.dim_i, p.dim_j,
             round((p.sxy - sa.sx * sb.sx / nn.n) / (nn.n - 1), 6) + 0.0 AS c
      FROM prods p
      JOIN sums sa ON p.dim_i = sa.d
      JOIN sums sb ON p.dim_j = sb.d
      CROSS JOIN nn
    ),
    fm AS MATERIALIZED (
      SELECT dim_i AS i, dim_j AS j, CAST(round(c * 1000000) AS BIGINT) AS ci
      FROM cov
      UNION ALL
      SELECT dim_j AS i, dim_i AS j, CAST(round(c * 1000000) AS BIGINT) AS ci
      FROM cov WHERE dim_i < dim_j
    ),
    dims AS (SELECT DISTINCT i AS dim FROM fm),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM dims),
    v0 AS (SELECT dim, CAST(round(1000000 / sqrt(nd)) AS BIGINT) AS vi
           FROM dims CROSS JOIN nd)"""
    steps = _pca_ladder_steps("fm", "", k)
    if final is None:
        final = f"""
    SELECT v.dim, CAST(v.vi AS DOUBLE) / 1000000 AS loading, n.nrm AS lam
    FROM v{k} v CROSS JOIN n{k} n
    """
    return "WITH " + base + "," + ",".join(steps) + final


def _pca_ladder_steps(
    mat: str, pfx: str, k: int, ortho: str | None = None
) -> list[str]:
    """One (w, n, v) CTE triple per power-iteration round over matrix CTE
    `mat`, names prefixed `w{pfx}r`/`n{pfx}r`/`v{pfx}r` so the PC1 ladder
    (pfx='') and the deflated PC2 ladder (pfx='2_') coexist in one WITH.
    Requires `v{pfx}0` to already be defined. With `ortho` (a prior
    eigenvector CTE), each raw matvec is re-orthogonalized against it
    before normalization — exact-int inner product in HUGEINT (the
    engine's DECIMAL(38,0) twin), identical expression structure to
    _pca_power_loop's projection (see its docstring for why deflation
    alone fails on a near-degenerate spectrum)."""
    steps = []
    for r in range(1, k + 1):
        if ortho is None:
            steps.append(
                f"""
    w{pfx}{r} AS MATERIALIZED (
      SELECT f.i AS dim, CAST(sum(f.ci * v.vi) AS BIGINT) AS wi
      FROM {mat} f JOIN v{pfx}{r - 1} v ON f.j = v.dim GROUP BY f.i
    )"""
            )
        else:
            steps.append(
                f"""
    wr{pfx}{r} AS MATERIALIZED (
      SELECT f.i AS dim, CAST(sum(f.ci * v.vi) AS BIGINT) AS wi
      FROM {mat} f JOIN v{pfx}{r - 1} v ON f.j = v.dim GROUP BY f.i
    ),
    s{pfx}{r} AS MATERIALIZED (
      SELECT CAST(sum(CAST(w.wi AS HUGEINT) * u.vi) AS DOUBLE) AS s
      FROM wr{pfx}{r} w JOIN {ortho} u ON w.dim = u.dim
    ),
    w{pfx}{r} AS MATERIALIZED (
      SELECT w.dim,
             w.wi - CAST(round(s.s * u.vi / 1e12) AS BIGINT) AS wi
      FROM wr{pfx}{r} w
      JOIN {ortho} u ON w.dim = u.dim
      CROSS JOIN s{pfx}{r} s
    )"""
            )
        steps.append(
            f"""
    n{pfx}{r} AS MATERIALIZED (
      SELECT round(sqrt(CAST(sum(CAST(wi AS HUGEINT) * wi) AS DOUBLE))
                   / 1e12, 6) AS nrm
      FROM w{pfx}{r}
    ),
    v{pfx}{r} AS MATERIALIZED (
      SELECT dim, CAST(round(CAST(wi AS DOUBLE) / 1e6 / nrm) AS BIGINT) AS vi
      FROM w{pfx}{r} CROSS JOIN n{pfx}{r}
    )"""
        )
    return steps


def _pca2_oracle(k: int = _PCA_K, final: str | None = None) -> str:
    """PC2-by-deflation oracle: the PC1 ladder, then the micro-unit
    rank-1 deflation (same single-IEEE-op expression structure as
    pca_deflate_for — `nrm * CAST(vi_i * vi_j AS DOUBLE) / 1e6`, left-
    associative on both engines), then a second unrolled ladder on the
    deflated matrix, closing with the explained-variance split over the
    exact integer trace (default final) or a caller-provided final (the
    2-D projection). Shares _pca_oracle's base + _pca_ladder_steps
    (CLAUDE.md: edit the generator, never a per-query copy)."""
    pc1 = _pca_oracle(k, final="@@DEFLATE@@").split("@@DEFLATE@@")[0]
    deflate = f""",
    fm2 AS MATERIALIZED (
      SELECT f.i, f.j,
             f.ci - CAST(round(n.nrm * CAST(a.vi * b.vi AS DOUBLE) / 1e6)
                         AS BIGINT) AS ci
      FROM fm f
      JOIN v{k} a ON f.i = a.dim
      JOIN v{k} b ON f.j = b.dim
      CROSS JOIN n{k} n
    ),
    v2_0 AS (SELECT dim, CAST(round(1000000 / sqrt(nd)) AS BIGINT) AS vi
             FROM dims CROSS JOIN nd)"""
    steps2 = _pca_ladder_steps("fm2", "2_", k, ortho=f"v{k}")
    if final is None:
        final = f"""
    , tr AS (SELECT CAST(sum(ci) AS DOUBLE) / 1e6 AS tr FROM fm WHERE i = j)
    SELECT v.dim,
           CAST(v.vi AS DOUBLE) / 1000000 AS loading,
           n2.nrm AS lam,
           n1.nrm AS lam1,
           round(n1.nrm / tr.tr, 6) AS evr1,
           round(n2.nrm / tr.tr, 6) AS evr2
    FROM v2_{k} v CROSS JOIN n2_{k} n2 CROSS JOIN n{k} n1 CROSS JOIN tr
    """
    return pc1 + deflate + "," + ",".join(steps2) + final


def pca_power_for(e: DataFrame, k: int = _PCA_K) -> DataFrame:
    """Top principal component of an embedding frame by `k` rounds of
    power iteration on the 6-dp-rounded sample covariance — the body of
    :func:`q_embed_pca`, frame-parameterized for the scaling probe and
    the planted-eigenstructure pin.

    Numeric representation: matrix and vector entries travel as integer
    micro-units (value x 1e6, BIGINT), so the per-round matvec
    sum(ci * vi) is EXACT int64 arithmetic — see _pca_oracle's docstring
    for why iterating on rounded doubles is nondeterministic (decimal
    half-boundary ties decided by float summation order). The only
    doubles are the norm (computed from the exact DECIMAL(38,0) sum of
    squares) and the renormalized vector, whose inputs are bit-identical
    on both engines, so every rounding decision is reproducible.

    Residual dependency (ADVICE r13): the ladder's determinism still
    rests on the UPSTREAM covariance doubles — covariance_for's sxy/sx
    are order-dependent float sums rounded at 6 dp, so a decimal
    half-boundary tie THERE would flip ci = round(cov * 1e6) and
    reintroduce the nondeterminism this design fixed downstream.
    Empirically pinned (repeat-run bit-identity + partition-invariance
    tests) and unlikely for non-grid embedding data; if a future fixture
    ships grid-aligned embeddings and the bit-identity pin starts
    flaking, THIS sum — not the ladder — is where to look (the fix would
    be carrying sxy/sx as exact micro-unit int64 too).

    Loop discipline (BPE-trainer pattern, llm_text._bpe_rounds): the
    mirrored covariance is localCheckpointed ONCE (that materialization
    is the only corpus pass), and each iteration eagerly checkpoints its
    d-row matvec result `w` — without it the (norm, vector) pair reads
    `w` twice and the logical plan doubles per round (the exponential-
    lineage failure mode pinned for BPE in tests/test_plans.py). Unlike
    the BPE/CC/k-means loops there is NOTHING to free: every checkpoint
    after the first is d- or d^2-sized (dimension-bound, corpus-size-
    independent), so storage is O(k * d^2) regardless of corpus scale
    and the free_local_checkpoint discipline doesn't apply.
    """
    _, v, nrm = _pca_axis1_for(e, k)
    return _pc1_tail(v, nrm)


def _pc1_tail(v: DataFrame, nrm: DataFrame) -> DataFrame:
    """(loading, lam) projection of a (vector, norm) ladder result —
    shared by pca_power_for (fresh build) and q_embed_pca (cached
    axis)."""
    return v.crossJoin(F.broadcast(nrm)).select(
        "dim",
        (F.col("vi").cast("double") / F.lit(1e6)).alias("loading"),
        F.col("nrm").alias("lam"),
    )


def _pca_axis1_for(
    e: DataFrame, k: int = _PCA_K, cov: DataFrame | None = None
):
    """Covariance pass + PC1 ladder of an embedding frame — the shared
    first stage of every PCA query. Returns (full, v1, n1): the
    checkpointed micro-unit covariance and the (vector, norm) pair,
    each rooted at the ladder's final d-row checkpoint. ``cov``: see
    _pca_micro_cov."""
    full = _pca_micro_cov(e, cov=cov)
    v1, n1 = _pca_power_loop(full, k)
    return full, v1, n1


@artifact("pca_axis1")
def _pca_axis1_cached(spark: SparkSession, sf_dir: str):
    """(full, v1, n1) for the embeddings table at _PCA_K rounds — at
    100 TB the PCA axes are a computed artifact every consumer
    (projection, deflation, drift monitor) reads, not a per-query
    subplan. All returned frames root at eager localCheckpoints (the
    covariance and each round's d-row matvec)."""
    return _pca_axis1_for(
        table(spark, sf_dir, "embeddings"),
        cov=covariance_table(spark, sf_dir),
    )


@artifact("pca_axes2")
def _pca_axes_cached(spark: SparkSession, sf_dir: str):
    """BOTH axes (full, v1, n1, v2, n2) — layered on _pca_axis1_cached
    so q_embed_pca/q_embed_pca_project never pay for the second ladder
    they don't read."""
    full, v1, n1 = _pca_axis1_cached(spark, sf_dir)
    v2, n2 = _pca_axis2_from(full, v1, n1, _PCA_K)
    return full, v1, n1, v2, n2


def _pca_micro_cov(e: DataFrame, cov: DataFrame | None = None) -> DataFrame:
    """Mirrored integer micro-unit covariance of an embedding frame —
    the ONE corpus pass of every PCA query, localCheckpoint'ed so both
    power-iteration consumers (PC1 ladder, and after deflation the PC2
    ladder + trace) read the materialized d^2-row frame, never the
    corpus. ``cov``: optional prebuilt covariance_for output (the
    covariance_table artifact) replacing the fresh corpus pass."""
    if cov is None:
        cov = covariance_for(e)
    ci = F.round(F.col("cov") * 1e6).cast("bigint").alias("ci")
    return (
        cov.select("dim_i", "dim_j", ci)
        .union(
            cov.where(F.col("dim_i") < F.col("dim_j")).select(
                F.col("dim_j").alias("dim_i"),
                F.col("dim_i").alias("dim_j"),
                ci,
            )
        )
        .localCheckpoint()
    )


def _pca_power_loop(full: DataFrame, k: int, ortho: DataFrame | None = None):
    """`k` rounds of exact-int64 power iteration on a mirrored micro-unit
    matrix (dim_i, dim_j, ci BIGINT). Returns the (d-row vector frame
    with micro-unit `vi`, 1-row `nrm` frame) pair after round k — the
    shared body of pca_power_for and pca_deflate_for (one loop, two
    callers: the _bpe_rounds discipline).

    With `ortho` (a prior micro-unit eigenvector frame), every matvec is
    re-orthogonalized against it BEFORE normalization: w -= round(S * ui
    / 1e12) per dim, where S = sum(wi * ui) is the exact integer inner
    product (DECIMAL(38,0) here / HUGEINT in the oracle — the same
    proven cast pairing as the norm's sum of squares). Deflation alone
    is not enough on a near-degenerate spectrum: the k-round v1 is a
    MIXTURE of close eigenvectors, so the deflated matrix's dominant
    direction keeps a v1 component (measured cos(v1, v2) = -0.116 on
    the near-isotropic fixture without this step; ~1e-6 with it). The
    projection pins every iterate to the v1-orthogonal complement up to
    one rounding, which is the textbook deflation-with-
    reorthogonalization remedy.

    FUSED round (r15, VERDICT r14 item 7): the ortho path used to run
    THREE blocking jobs per round — raw-matvec checkpoint, the
    1-row S broadcast, the projected-w checkpoint — and the loop's cost
    is sequential job LATENCY, corpus-independent (SCALE.md: dropping
    only the middle checkpoint was measured value-identical and NOT
    faster, because the S broadcast still forced its own job). Now S is
    an unpartitioned DECIMAL window sum over the d-row joined frame —
    the documented metadata-sized single-partition exception (two-phase
    scan pattern; d = 64 rows here, never corpus) — so matvec +
    projection fuse into ONE localCheckpoint action per round.
    Value-identical by construction: the window's decimal sum is the
    same exact order-independent integer fold as the old aggregate, S
    casts to the same double, and the subtraction expression is
    unchanged (pinned by the planted two-eigenvalue trajectory and the
    repeat-run bit-identity property)."""
    if k < 1:
        raise ValueError(
            f"_pca_power_loop needs k >= 1 rounds, got k={k}: the returned "
            "nrm is derived from the last round's w (ADVICE r15 item 2)"
        )
    dims = full.select(F.col("dim_i").alias("dim")).distinct()
    nd = dims.agg(F.count("*").alias("nd"))
    v = dims.crossJoin(F.broadcast(nd)).select(
        "dim",
        F.round(F.lit(1e6) / F.sqrt("nd")).cast("bigint").alias("vi"),
    )
    w = nrm = None
    dec = "decimal(19,0)"
    u = None
    if ortho is not None:
        u = ortho.select("dim", F.col("vi").alias("ui"))
    for _ in range(k):
        w = (
            full.join(F.broadcast(v), full.dim_j == v.dim)
            .groupBy(full.dim_i.alias("dim"))
            .agg(F.sum(F.col("ci") * F.col("vi")).alias("wi"))
        )
        if u is not None:
            # S as an unpartitioned window sum over the d-row frame (the
            # metadata-sized single-partition exception), fusing matvec +
            # projection into the ONE checkpoint action below.
            s_col = (
                F.sum(F.col("wi").cast(dec) * F.col("ui").cast(dec))
                .over(Window.partitionBy())
                .cast("double")
            )
            w = w.join(F.broadcast(u), "dim").select(
                "dim",
                (
                    F.col("wi")
                    - F.round(s_col * F.col("ui") / F.lit(1e12)).cast("bigint")
                ).alias("wi"),
            )
        w = w.localCheckpoint()
        # normalize via the same unpartitioned d-row window (not a 1-row
        # agg frame broadcast back): one fewer sub-job inside the next
        # round's broadcast(v) evaluation, value-identical — the window's
        # decimal sum of squares is the same exact fold, and the
        # round/sqrt/divide chain is unchanged.
        ss_col = (
            F.sum(F.col("wi").cast(dec) * F.col("wi").cast(dec))
            .over(Window.partitionBy())
            .cast("double")
        )
        nrm_col = F.round(F.sqrt(ss_col) / F.lit(1e12), 6)
        v = w.select(
            "dim",
            F.round(F.col("wi").cast("double") / F.lit(1e6) / nrm_col)
            .cast("bigint")
            .alias("vi"),
        )
    # the RETURNED 1-row norm frame (the eigenvalue the callers read) is
    # computed once from the final checkpointed w — same value as every
    # round's window norm, just frame-shaped for the callers.
    ss = F.sum(F.col("wi").cast(dec) * F.col("wi").cast(dec))
    nrm = w.agg(
        F.round(F.sqrt(ss.cast("double")) / F.lit(1e12), 6).alias("nrm")
    )
    return v, nrm


def _pca_two_axes(e: DataFrame, k: int):
    """Both principal axes of an embedding frame — the one copy of the
    (covariance -> PC1 ladder -> exact-int deflation -> reorthogonalized
    PC2 ladder) composition shared by pca_deflate_for and
    q_embed_pca_project2. Returns (full, v1, n1, v2, n2): the
    checkpointed micro-unit covariance plus both (vector, norm) pairs.
    See pca_deflate_for for the numeric argument."""
    full, v1, n1 = _pca_axis1_for(e, k)
    v2, n2 = _pca_axis2_from(full, v1, n1, k)
    return full, v1, n1, v2, n2


def _pca_axis2_from(full: DataFrame, v1: DataFrame, n1: DataFrame, k: int):
    """Exact-int rank-1 deflation of the checkpointed covariance by the
    PC1 estimate, then the reorthogonalized second ladder — the second
    stage split out of _pca_two_axes so _pca_axes_cached can build it
    on top of the cached first stage."""
    a = v1.select(F.col("dim").alias("dim_i"), F.col("vi").alias("vi_i"))
    b = v1.select(F.col("dim").alias("dim_j"), F.col("vi").alias("vi_j"))
    full2 = (
        full.join(F.broadcast(a), "dim_i")
        .join(F.broadcast(b), "dim_j")
        .crossJoin(F.broadcast(n1))
        .select(
            "dim_i",
            "dim_j",
            (
                F.col("ci")
                - F.round(
                    F.col("nrm")
                    * (F.col("vi_i") * F.col("vi_j")).cast("double")
                    / F.lit(1e6)
                ).cast("bigint")
            ).alias("ci"),
        )
        .localCheckpoint()
    )
    v2, n2 = _pca_power_loop(full2, k, ortho=v1)
    return v2, n2


def pca_deflate_for(e: DataFrame, k: int = _PCA_K) -> DataFrame:
    """Second principal component by rank-1 deflation — the body of
    :func:`q_embed_pca2`, frame-parameterized for the scaling probe and
    the planted two-eigenvalue pin.

    Deflation stays on the exact-integer grid: with PC1's micro-unit
    vector v1 (vi1 = loading x 1e6, BIGINT) and its 6-dp eigenvalue
    lam1, the deflated matrix is

        ci2 = ci - round(lam1 * CAST(vi1_i * vi1_j AS DOUBLE) / 1e6)

    i.e. cov2 = cov - lam1 * v1 v1^T in micro-units. The int64 product
    vi1_i * vi1_j (<= 1e12) is exactly representable as a double, lam1
    is the same 6-dp-rounded double on both engines, and the multiply/
    divide/round chain is single IEEE ops on bit-identical inputs — so
    ci2 is the same int64 on both engines and the SECOND power-iteration
    ladder runs on exact integers again (same associativity in the
    oracle: `nrm * CAST(a.vi * b.vi AS DOUBLE) / 1e6`). The
    explained-variance split divides both 6-dp eigenvalues by the exact
    trace (sum of diagonal micro-units / 1e6, int64-exact).

    Scale: identical envelope to pca_power_for — the corpus is touched
    exactly once (the shared _pca_micro_cov checkpoint); the deflation
    join is d^2-row x broadcast d-row, and the second ladder adds k more
    d^2-sized broadcast-join rounds. Everything after the covariance
    pass is dimension-bound, so a 100x corpus changes only that first
    pass. Residual caveat: v1 is the k-round ESTIMATE, so deflation
    leaves O(gap^-k) variance along PC1 in cov2 — with real embedding
    eigen-gaps that residual is orders below lam2 and the second ladder
    converges to PC2, not the leftover (the planted two-eigenvalue test
    pins exactly this).
    """
    full, v1, n1, v2, n2 = _pca_two_axes(e, k)
    return _pca2_tail(full, n1, v2, n2)


def _pca2_tail(
    full: DataFrame, n1: DataFrame, v2: DataFrame, n2: DataFrame
) -> DataFrame:
    """(loading, lam, lam1, evr1, evr2) projection over the exact-trace
    divisor — shared by pca_deflate_for (fresh build) and q_embed_pca2
    (cached axes)."""
    tr = full.where(F.col("dim_i") == F.col("dim_j")).agg(
        (F.sum("ci").cast("double") / F.lit(1e6)).alias("tr")
    )
    return (
        v2.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n1.select(F.col("nrm").alias("lam1"))))
        .crossJoin(F.broadcast(tr))
        .select(
            "dim",
            (F.col("vi").cast("double") / F.lit(1e6)).alias("loading"),
            F.col("nrm").alias("lam"),
            F.col("lam1"),
            F.round(F.col("lam1") / F.col("tr"), 6).alias("evr1"),
            F.round(F.col("nrm") / F.col("tr"), 6).alias("evr2"),
        )
    )


@query("q_embed_pca", oracle=_pca_oracle())
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (loading vector + dominant-eigenvalue
    estimate) of the embedding corpus via distributed power iteration —
    the dimensionality-reduction / drift-direction primitive that sits
    between q_embed_covariance (its input moment) and q_embed_whiten
    (which uses only the diagonal).

    Scale: the ONE corpus-sized step is the covariance pass
    (map-side d^2/2 products, shuffle = partial sums only — see
    q_embed_covariance); every iteration after it is a d^2-row broadcast
    join + d-row aggregate, so the whole loop is dimension-bound and a
    100x corpus changes only the first pass (covariance_for's measured
    scaling). The eigen-gap of real embedding covariance makes k=6
    plenty for the drift/quantizer-calibration uses; parity needs no
    convergence at all since the oracle unrolls the SAME k rounds on the
    SAME exact micro-unit integers (see pca_power_for for the
    determinism design — the matvec is exact int64, so there is no
    float fold to diverge). The axes are session-materialized
    (_pca_axis1_cached): one covariance pass + one ladder per session,
    read by all four PCA queries — the artifact topology production
    uses at 100 TB.
    """
    _, v1, n1 = _pca_axis1_cached(spark, sf_dir)
    return _pc1_tail(v1, n1)


_PCA_PROJECT_FINAL = f"""
    , ld AS (
      SELECT list(CAST(vi AS DOUBLE) / 1000000 ORDER BY dim) AS pc
      FROM v{_PCA_K}
    )
    SELECT e.vec_id,
           round({_dot_sql("e.embedding", "ld.pc")}, 6) + 0.0 AS pc1
    FROM embeddings e CROSS JOIN ld
"""


@query("q_embed_pca_project", oracle=_pca_oracle(final=_PCA_PROJECT_FINAL))
def q_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top principal component — the
    dimensionality-REDUCTION step q_embed_pca's loading vector exists
    for: pc1 scores feed drift monitors (score distribution shift),
    coreset selection (extremes along the dominant direction) and 1-D
    binning for stratified sampling.

    Scale: the loading comes from the dimension-bound power-iteration
    loop (pca_power_for — corpus cost = one covariance pass), collapses
    to a SINGLE d-element array row, and broadcasts onto one linear
    corpus scan; the per-vector score is the house sequential float64
    fold (dot64 / _dot_sql, module docstring), so both engines fold the
    same bit-identical loading over the same element order — rounded at
    6 dp with the signed zero normalized. Two corpus passes total
    (covariance + projection), nothing pairwise, shuffle volume zero on
    the projection pass (map-side crossJoin of a broadcast 1-row frame).
    """
    e = table(spark, sf_dir, "embeddings")
    _, v1, n1 = _pca_axis1_cached(spark, sf_dir)
    loading = _pc1_tail(v1, n1)
    pc = loading.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, loading))), "
            "s -> s.loading)"
        ).alias("pc")
    )
    return e.crossJoin(F.broadcast(pc)).select(
        "vec_id",
        (F.round(dot64("embedding", "pc"), 6) + F.lit(0.0)).alias("pc1"),
    )


@query("q_embed_pca2", oracle=_pca2_oracle())
def q_embed_pca2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal component + explained-variance split via rank-1
    deflation — what an embedding-diagnostics user reads AFTER
    q_embed_pca: is the corpus effectively one-dimensional (evr1 >>
    evr2, e.g. a collapsed or template-dominated embedding space), or is
    there real structure along a second axis worth keeping before
    quantization / 1-D curriculum binning? Returns PC2's per-dim
    loadings, both eigenvalue estimates (lam, lam1) and both variance
    ratios against the exact covariance trace.

    The deflation subtracts lam1 * v1 v1^T from the micro-unit
    covariance in exact int64 (see pca_deflate_for for the full numeric
    argument) and re-runs the SAME power-iteration loop — proving the
    exact-integer machinery generalizes beyond one eigenvector. Scale:
    identical to q_embed_pca — one corpus pass (the shared covariance
    checkpoint), everything else d- or d^2-sized broadcast joins; both
    ladders session-materialized (_pca_axes_cached).
    """
    full, _, n1, v2, n2 = _pca_axes_cached(spark, sf_dir)
    return _pca2_tail(full, n1, v2, n2)


_PCA_PROJECT2_FINAL = f"""
    , ld1 AS (
      SELECT list(CAST(vi AS DOUBLE) / 1000000 ORDER BY dim) AS pc
      FROM v{_PCA_K}
    ),
    ld2 AS (
      SELECT list(CAST(vi AS DOUBLE) / 1000000 ORDER BY dim) AS pc
      FROM v2_{_PCA_K}
    )
    SELECT e.vec_id,
           round({_dot_sql("e.embedding", "ld1.pc")}, 6) + 0.0 AS pc1,
           round({_dot_sql("e.embedding", "ld2.pc")}, 6) + 0.0 AS pc2
    FROM embeddings e CROSS JOIN ld1 CROSS JOIN ld2
"""


@query(
    "q_embed_pca_project2", oracle=_pca2_oracle(final=_PCA_PROJECT2_FINAL)
)
def q_embed_pca_project2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto BOTH principal axes — the 2-D corpus
    map (vec_id, pc1, pc2) a curation team actually plots: cluster
    structure, outlier pockets and source separation live in this
    plane, and 2-D grid binning over it is the stratification key for
    visual sampling. Completes the spectrum story: q_embed_pca /
    q_embed_pca2 produce the axes, q_embed_pca_project /
    q_embed_pca_project2 carry them onto the corpus.

    Scale: the axes come from the shared dimension-bound two-ladder
    composition (_pca_two_axes — corpus cost = ONE covariance pass),
    each collapses to a single d-element array row, and both broadcast
    onto ONE linear corpus scan; per-vector scores are the house
    sequential float64 fold (dot64/_dot_sql) over bit-identical
    loadings, rounded at 6 dp with signed zeros normalized. Two corpus
    passes total (covariance + projection) — adding the second axis
    costs no extra corpus work over q_embed_pca_project.
    """
    e = table(spark, sf_dir, "embeddings")
    _, v1, _, v2, _ = _pca_axes_cached(spark, sf_dir)

    def arr(v: DataFrame) -> DataFrame:
        return v.select(
            "dim", (F.col("vi").cast("double") / F.lit(1e6)).alias("loading")
        ).agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, loading))), "
                "s -> s.loading)"
            ).alias("pc")
        )

    p1 = arr(v1).withColumnRenamed("pc", "p1")
    p2 = arr(v2).withColumnRenamed("pc", "p2")
    return (
        e.crossJoin(F.broadcast(p1))
        .crossJoin(F.broadcast(p2))
        .select(
            "vec_id",
            (F.round(dot64("embedding", "p1"), 6) + F.lit(0.0)).alias("pc1"),
            (F.round(dot64("embedding", "p2"), 6) + F.lit(0.0)).alias("pc2"),
        )
    )
